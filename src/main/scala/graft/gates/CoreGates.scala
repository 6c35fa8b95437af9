package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dsl._
import graft.dsl.Dsl._
import graft.functions.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis, TextNormalize}
import graft.operators.{EventLog, Graph, Joins}
import graft.sources.Tables
import graft.gates.GateSupport._

/** Relational core: scans, DSL predicates, joins, set ops,
  * aggregation, windows, event-time batch queries.
  *
  * Split out of SparkEntry (round-9 advice #8) purely for file size; the
  * driver surface is unchanged — SparkEntry.queries/oracleSql concatenate
  * every family. Scaladoc on each entry cites the reference behavior it
  * re-expresses.
  */
object CoreGates {

  /** Seeded fuzz-parity cases: ONE deterministic generator emits each
    * random predicate in BOTH forms — the Spark `Column` tree and the SQL
    * string — in lockstep, so the gate and its oracle sweep the same 32
    * machine-made predicate shapes (comparison × column-type × modulo ×
    * IN × NOT × AND/OR nesting). Hand-written gates cover the operators;
    * this covers their COMBINATIONS, the classic differential-testing
    * blind spot. All literals are exact cross-engine (integer-valued
    * doubles, correctly-rounded k/100 divisions, strings). */
  private[graft] final case class FuzzCase(
      id: Int, pred: org.apache.spark.sql.Column, sql: String)

  private[graft] lazy val fuzzCases: Seq[FuzzCase] = {
    val rnd = new scala.util.Random(20261315L)
    val ops = Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column)](
      ("<", _ < _), ("<=", _ <= _), (">", _ > _), (">=", _ >= _),
      ("=", _ === _), ("<>", _ =!= _))
    def atom(): (org.apache.spark.sql.Column, String) = rnd.nextInt(6) match {
      case 0 =>
        val (os, of) = ops(rnd.nextInt(ops.length)); val k = 1 + rnd.nextInt(50)
        (of(col("l_quantity"), lit(k.toDouble)), s"l_quantity $os $k.0")
      case 1 =>
        val (os, of) = ops(rnd.nextInt(ops.length)); val k = 1 + rnd.nextInt(7)
        (of(col("l_linenumber"), lit(k)), s"l_linenumber $os $k")
      case 2 =>
        val m = Seq(3, 5, 7)(rnd.nextInt(3)); val r = rnd.nextInt(m)
        (col("l_orderkey") % m === r, s"l_orderkey % $m = $r")
      case 3 =>
        val subset = rnd.shuffle(Seq("A", "N", "R")).take(1 + rnd.nextInt(2))
        (col("l_returnflag").isin(subset.map(x => x: Any): _*),
          s"l_returnflag IN (${subset.map(v => s"'$v'").mkString(", ")})")
      case 4 =>
        val v = Seq("O", "F")(rnd.nextInt(2))
        (col("l_linestatus") === v, s"l_linestatus = '$v'")
      case _ =>
        val (os, of) = ops(rnd.nextInt(ops.length)); val k = rnd.nextInt(11)
        val d = k / 100.0 // correctly-rounded quotient == parsed literal
        (of(col("l_discount"), lit(d)),
          // Locale.ROOT: the default-locale f-interpolator would render
          // "0,05" on a comma-decimal JVM and break the generated SQL
          s"l_discount $os " + String.format(java.util.Locale.ROOT, "%.2f", Double.box(d)))
    }
    (0 until 32).map { i =>
      val n = 1 + rnd.nextInt(3)
      val atoms = Seq.fill(n)(atom()).map { a =>
        if (n > 1 && rnd.nextInt(4) == 0) (!a._1, s"NOT (${a._2})") else a
      }
      val (pred, sql) = atoms.reduceLeft { (acc, a) =>
        if (rnd.nextBoolean()) (acc._1 && a._1, s"(${acc._2} AND ${a._2})")
        else (acc._1 || a._1, s"(${acc._2} OR ${a._2})")
      }
      FuzzCase(i, pred, sql)
    }
  }

  /** Join-fuzz cases: 8 seeded (orders-predicate, lineitem-predicate)
    * pairs around the o_orderkey = l_orderkey equi-join — the same
    * lockstep Column/SQL generation as [[fuzzCases]], extending the
    * machine-made combination sweep to filtered JOINS (filter placement
    * relative to a join is its own optimizer grammar: pushdown through
    * the join, join-strategy choice under selectivity). */
  private[graft] final case class JoinFuzzCase(
      id: Int, oPred: org.apache.spark.sql.Column, oSql: String,
      lPred: org.apache.spark.sql.Column, lSql: String)

  private[graft] lazy val joinFuzzCases: Seq[JoinFuzzCase] = {
    val rnd = new scala.util.Random(411311L)
    def oAtom(): (org.apache.spark.sql.Column, String) = rnd.nextInt(4) match {
      case 0 =>
        val subset = rnd.shuffle(Seq("O", "F", "P")).take(1 + rnd.nextInt(2))
        (col("o_orderstatus").isin(subset.map(x => x: Any): _*),
          s"o_orderstatus IN (${subset.map(v => s"'$v'").mkString(", ")})")
      case 1 =>
        val k = (1 + rnd.nextInt(300)) * 1000
        (col("o_totalprice") > k.toDouble, s"o_totalprice > $k.0")
      case 2 =>
        val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")(rnd.nextInt(5))
        (col("o_orderpriority") === prio, s"o_orderpriority = '$prio'")
      case _ =>
        val m = Seq(3, 5, 7)(rnd.nextInt(3)); val r = rnd.nextInt(m)
        (col("o_orderkey") % m === r, s"o_orderkey % $m = $r")
    }
    def lAtom(): (org.apache.spark.sql.Column, String) = rnd.nextInt(3) match {
      case 0 =>
        val k = 1 + rnd.nextInt(50)
        (col("l_quantity") <= k.toDouble, s"l_quantity <= $k.0")
      case 1 =>
        val v = Seq("A", "N", "R")(rnd.nextInt(3))
        (col("l_returnflag") === v, s"l_returnflag = '$v'")
      case _ =>
        val k = 1 + rnd.nextInt(7)
        (col("l_linenumber") >= k, s"l_linenumber >= $k")
    }
    (0 until 8).map { i =>
      val (op, os) = oAtom(); val (lp, ls) = lAtom()
      JoinFuzzCase(i, op, os, lp, ls)
    }
  }

  /** One seeded case of a value grammar (window, dates, numeric, strings,
    * decimal): the per-row value as a Spark `Column` and as DuckDB SQL,
    * generated in lockstep. Each family's gate and oracle reduce every
    * case to one checksum row ([[fuzzChecksums]], [[fuzzChecksumSql]]). */
  private[graft] final case class ValueFuzzCase(
      id: Int, value: org.apache.spark.sql.Column, valueSql: String)

  /** One checksum row per case over `df`, unioned: count, sum, weighted
    * sum (weight `weightKey % 97 + 1`), min and max of the case value.
    * Without a weight key the values are strings and the sums become
    * summed length and summed 32-bit md5 prefix. */
  private def fuzzChecksums(df: DataFrame, cases: Seq[ValueFuzzCase],
      weightKey: Option[String]): DataFrame = {
    val v = col("v")
    val (sumName, sumAgg, chk) = weightKey match {
      case Some(_) => ("sum_v", sum(v), sum(v * col("wt")))
      case None => ("sum_len", sum(length(v)),
        sum(conv(substring(md5(v.cast("binary")), 1, 8), 16, 10).cast("long")))
    }
    cases.map { c =>
      df.select(c.value.as("v") +: weightKey.map(k => (col(k) % 97 + 1).as("wt")).toSeq: _*)
        .agg(count(v).as("n_rows"), sumAgg.as(sumName), chk.as("chk"),
          min(v).as("min_v"), max(v).as("max_v"))
        .select(lit(c.id).as("case_id"), col("n_rows"), col(sumName),
          col("chk"), col("min_v"), col("max_v"))
    }.reduce(_ unionByName _)
  }

  /** [[fuzzChecksums]] in DuckDB over `(case id, value SQL)` pairs; SUMs
    * are BIGINT-cast (DuckDB SUM(BIGINT) widens to HUGEINT), and the
    * md5-prefix checksum parses the same 8 hex chars as the Spark side. */
  private def fuzzChecksumSql(cases: Seq[(Int, String)], table: String,
      weightKey: Option[String]): String = cases.map { case (id, valueSql) =>
    val (sums, wt) = weightKey match {
      case Some(k) => ("CAST(SUM(v) AS BIGINT) AS sum_v, CAST(SUM(v * wt) AS BIGINT) AS chk",
        s", $k % 97 + 1 AS wt")
      case None => ("CAST(SUM(length(v)) AS BIGINT) AS sum_len, " +
        "CAST(SUM(CAST(('0x' || substr(md5(v), 1, 8))::UBIGINT AS BIGINT)) AS BIGINT) AS chk", "")
    }
    s"""SELECT $id AS case_id, COUNT(v) AS n_rows, $sums,
            MIN(v) AS min_v, MAX(v) AS max_v
          FROM (SELECT $valueSql AS v$wt FROM $table)"""
  }.mkString("\n          UNION ALL\n")

  /** The predicate cases as conditional aggregates in one scan of
    * lineitem — per case a count, a sum of l_quantity, min l_orderkey
    * (ungrouped only) and max l_orderkey — stacked to one row per case,
    * or per (group, case) under `group`.
    *
    * LONG-BACKED conditional sums (r19 verdict #4, guide §2.3 narrower
    * types): sum(decimal(18,2)) carries a decimal(28,2) buffer, which
    * exceeds Spark's 18-digit compact-long Decimal bound — every one of
    * the 32 conditional updates per row deserializes, adds and
    * re-serializes a BigDecimal in the UnsafeRow buffer. l_quantity is
    * exact in cents (integer-valued 1..50 here; decimal(18,2) in
    * general), so the sum is computed over ONE per-row cents projection
    * into plain long buffers and divided back once per output cell.
    * VALUE-IDENTICAL: cents ≤ 5000/row keeps any realistic SF far from
    * long overflow (sf100 ≈ 3e13 ≪ 2^63, and < 2^53 so the final
    * division's numerator is also exact in double); both
    * `cast(sum_decimal as double)` and `sum_cents/100.0` are the
    * correctly-rounded double nearest S/100, and an empty case sums to
    * NULL on both paths. The decimal-sum aggregation path itself stays
    * differentially covered by q_fuzz_decimal and the money() sums in
    * q1/q3/q10. Oracle SQL unchanged ([[fuzzCondAggsSql]]). */
  private def fuzzCondAggs(lineitem: DataFrame, group: Option[String]): DataFrame = {
    val li = lineitem
      .withColumn("__cents", (money(col("l_quantity")) * 100).cast("long"))
    val keys = group.map(col).toSeq
    // (column prefix, output name, aggregate) of the l_orderkey extremes
    val extremes = (if (group.isEmpty) Seq(("mn", "min_ok", (c: Column) => min(c))) else Nil) :+
      (("mx", "max_ok", (c: Column) => max(c)))
    val aggs = fuzzCases.flatMap { c =>
      Seq(count(when(c.pred, 1)).as(s"n_${c.id}"),
        sum(when(c.pred, col("__cents"))).as(s"qc_${c.id}")) ++
        extremes.map { case (p, _, f) => f(when(c.pred, col("l_orderkey"))).as(s"${p}_${c.id}") }
    }
    li.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      .select(keys ++ fuzzCases.flatMap(c =>
        col(s"n_${c.id}") +: (col(s"qc_${c.id}") / lit(100.0)).as(s"q_${c.id}") +:
          extremes.map(e => col(s"${e._1}_${c.id}"))): _*)
      .select(keys :+ expr(s"stack(${fuzzCases.size}, " +
        fuzzCases.map(c => (Seq(s"${c.id}", s"n_${c.id}", s"q_${c.id}") ++
          extremes.map(e => s"${e._1}_${c.id}")).mkString(", ")).mkString(", ") +
        s") as (case_id, n_rows, sum_qty, ${extremes.map(_._2).mkString(", ")})"): _*)
  }

  /** [[fuzzCondAggs]] in DuckDB: the identical machine-made predicate
    * inside the identical conditional aggregates (COUNT / decimal-exact
    * SUM / MIN / MAX), one SELECT per case over one materialized scan. */
  private def fuzzCondAggsSql(group: Option[String]): String = {
    val cases = fuzzCases.map { c =>
      val minOk = if (group.isEmpty) s"MIN(CASE WHEN ${c.sql} THEN l_orderkey END) AS min_ok," else ""
      s"""SELECT ${group.fold("")(g => s"$g, ")}${c.id} AS case_id,
              COUNT(CASE WHEN ${c.sql} THEN 1 END) AS n_rows,
              CAST(SUM(CASE WHEN ${c.sql} THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_qty,
              $minOk
              MAX(CASE WHEN ${c.sql} THEN l_orderkey END) AS max_ok
            FROM base${group.fold("")(g => s" GROUP BY $g")}"""
    }.mkString("\n          UNION ALL\n")
    "WITH base AS MATERIALIZED (SELECT l_quantity, l_linenumber, " +
      "l_orderkey, l_returnflag, l_linestatus, l_discount FROM lineitem)\n" +
      cases
  }

  /** Window-function fuzz: seeded lockstep (Column, SQL) generation over
    * the ANALYTIC grammar — partition key × order key/direction × function
    * (row_number/rank/dense_rank/ntile/sum/count/min/lag) × ROWS frame.
    * Frames and ranking are the classic cross-engine divergence area
    * (frame clamping at partition edges, tie handling, lag defaults).
    * Determinism rules: ranking over ties (rank/dense_rank) is inherently
    * deterministic in the VALUE; everything row-addressed (row_number,
    * frames, lag, ntile) gets the unique (l_orderkey, l_linenumber)
    * tie-break appended so both engines see one total order. All window
    * values are BIGINT (money goes through exact cents), so the per-case
    * checksum row (count/sum/weighted-sum/min/max) is integer-exact.
    * Weighted sum stays < 2^63 through sf1 (~2.7e18); re-derive before
    * any sf10 run. */
  private[graft] lazy val winFuzzCases: Seq[ValueFuzzCase] = {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(140261L)
    val parts = Seq[(String, org.apache.spark.sql.Column)](
      ("l_returnflag", col("l_returnflag")),
      ("l_linestatus", col("l_linestatus")),
      ("l_orderkey % 8", col("l_orderkey") % 8),
      ("l_suppkey % 16", col("l_suppkey") % 16))
    val ords = Seq[(String, org.apache.spark.sql.Column)](
      ("l_quantity", col("l_quantity")),
      ("l_extendedprice", col("l_extendedprice")),
      ("l_discount", col("l_discount")),
      ("l_linenumber", col("l_linenumber")))
    // exact cents of l_quantity: decimal(18,2) * 100 -> BIGINT, the
    // money() discipline so framed SUMs are integer-exact cross-engine
    val cents = (money(col("l_quantity")) * 100).cast("long")
    val centsSql = "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"
    val frames = Seq[(String, (Long, Long))](
      ("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        (Window.unboundedPreceding, Window.currentRow)),
      ("ROWS BETWEEN 2 PRECEDING AND CURRENT ROW", (-2L, 0L)),
      ("ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING", (-1L, 1L)),
      ("ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
        (0L, Window.unboundedFollowing)))
    (0 until 12).map { i =>
      val (pSql, pCol) = parts(rnd.nextInt(parts.length))
      val (oSql0, oCol0) = ords(rnd.nextInt(ords.length))
      val desc = rnd.nextBoolean()
      val oCol = if (desc) oCol0.desc else oCol0.asc
      val oSql = if (desc) s"$oSql0 DESC" else oSql0
      // "total" order for everything row-addressed. (l_orderkey,
      // l_linenumber) is NOT unique in the synthetic lineitem, so the
      // tie-break chain covers EVERY column the window value or weight
      // can reference — remaining ties are rows identical in all of
      // them, under which the per-case checksum (a multiset reduction
      // of (v, wt) pairs) is invariant to tie order on both engines.
      val wTotal = Window.partitionBy(pCol)
        .orderBy(oCol, col("l_orderkey").asc, col("l_linenumber").asc,
          col("l_partkey").asc, col("l_suppkey").asc, col("l_quantity").asc,
          col("l_extendedprice").asc, col("l_discount").asc)
      val totalSql = s"PARTITION BY $pSql ORDER BY $oSql, l_orderkey, " +
        "l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, " +
        "l_discount"
      // ties allowed: rank values depend only on the order KEY
      val wTies = Window.partitionBy(pCol).orderBy(oCol)
      val tiesSql = s"PARTITION BY $pSql ORDER BY $oSql"
      def framed(fi: Int) = {
        val (fSql, (lo, hi)) = frames(fi)
        (wTotal.rowsBetween(lo, hi), s"$totalSql $fSql")
      }
      rnd.nextInt(8) match {
        case 0 => ValueFuzzCase(i, row_number().over(wTotal).cast("long"),
          s"CAST(ROW_NUMBER() OVER ($totalSql) AS BIGINT)")
        case 1 => ValueFuzzCase(i, rank().over(wTies).cast("long"),
          s"CAST(RANK() OVER ($tiesSql) AS BIGINT)")
        case 2 => ValueFuzzCase(i, dense_rank().over(wTies).cast("long"),
          s"CAST(DENSE_RANK() OVER ($tiesSql) AS BIGINT)")
        case 3 =>
          val n = 2 + rnd.nextInt(9)
          ValueFuzzCase(i, ntile(n).over(wTotal).cast("long"),
            s"CAST(NTILE($n) OVER ($totalSql) AS BIGINT)")
        case 4 =>
          val (w, ws) = framed(rnd.nextInt(frames.length))
          ValueFuzzCase(i, sum(cents).over(w),
            s"SUM($centsSql) OVER ($ws)")
        case 5 =>
          val (w, ws) = framed(rnd.nextInt(frames.length))
          ValueFuzzCase(i, count(lit(1)).over(w),
            s"COUNT(*) OVER ($ws)")
        case 6 =>
          val (w, ws) = framed(rnd.nextInt(frames.length))
          ValueFuzzCase(i, min(col("l_orderkey")).over(w),
            s"MIN(l_orderkey) OVER ($ws)")
        case _ =>
          val k = 1 + rnd.nextInt(3)
          ValueFuzzCase(i, lag(cents, k).over(wTotal),
            s"LAG($centsSql, $k) OVER ($totalSql)")
      }
    }
  }

  /** Date-fuzz cases: seeded lockstep (Column, SQL) generation over the
    * CALENDAR grammar — shift (none / ±days / ±months) composed with a
    * terminal (days-since-epoch, datediff to a fixed date, field extract,
    * date_trunc, last_day, day-of-week). Calendar arithmetic is a classic
    * cross-engine divergence area: month-add end-of-month clamping, ISO
    * week numbering, day-of-week origin (Spark `dayofweek` is 1=Sunday,
    * DuckDB 0=Sunday — the generator emits the aligned forms), and
    * DATE-vs-TIMESTAMP result types of interval adds (DuckDB
    * DATE + INTERVAL yields TIMESTAMP; the SQL re-casts). Every value is
    * an integer (days or a field number), so the per-case checksum row is
    * exact. o_orderdate is stored as TIMESTAMP in the testdata — both
    * engines start from an explicit CAST to DATE. */
  private[graft] lazy val dateFuzzCases: Seq[ValueFuzzCase] = {
    val rnd = new scala.util.Random(20261408L)
    val epoch = to_date(lit("1970-01-01"))
    (0 until 16).map { i =>
      val d0 = col("o_orderdate").cast("date")
      val d0Sql = "CAST(o_orderdate AS DATE)"
      val (d, dSql) = rnd.nextInt(3) match {
        case 0 => (d0, d0Sql)
        case 1 =>
          val k = rnd.nextInt(801) - 400
          (date_add(d0, k), s"($d0Sql + ($k))")
        case _ =>
          val k = rnd.nextInt(51) - 25
          (add_months(d0, k), s"CAST($d0Sql + INTERVAL ($k) MONTH AS DATE)")
      }
      val (v, vSql) = rnd.nextInt(6) match {
        case 0 => (datediff(d, epoch), s"($dSql - DATE '1970-01-01')")
        case 1 => (datediff(d, to_date(lit("1996-06-15"))),
          s"($dSql - DATE '1996-06-15')")
        case 2 =>
          val fields = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
            ("year", year), ("month", month), ("day", dayofmonth),
            ("quarter", quarter), ("dayofyear", dayofyear),
            ("weekofyear", weekofyear))
          val (fSql, f) = fields(rnd.nextInt(fields.length))
          (f(d), s"$fSql($dSql)")
        case 3 =>
          val u = Seq("month", "quarter", "year")(rnd.nextInt(3))
          (datediff(trunc(d, u), epoch),
            s"(date_trunc('$u', $dSql) - DATE '1970-01-01')")
        case 4 => (datediff(last_day(d), epoch),
          s"(last_day($dSql) - DATE '1970-01-01')")
        case _ => (dayofweek(d) - 1, s"dayofweek($dSql)")
      }
      ValueFuzzCase(i, v.cast("long"), s"CAST($vSql AS BIGINT)")
    }
  }

  /** Numeric-fuzz cases: seeded lockstep (Column, SQL) integer-arithmetic
    * trees over exact leaves (modulo-reduced keys and decimal-exact
    * cents) — +, -, *, truncating div and mod (both engines truncate
    * toward zero, probed on negatives), two's-complement bitwise
    * AND/OR/XOR/shift (identical bit semantics), abs/sign/greatest/least.
    * The generator TRACKS a magnitude bound through every node and wraps
    * with `% 1000000007` whenever it exceeds 1.5e9: Spark longs silently
    * wrap on overflow while DuckDB BIGINTs raise — the bound keeps every
    * per-row value and every weighted sum exact in BOTH engines through
    * sf10. */
  private[graft] lazy val numFuzzCases: Seq[ValueFuzzCase] = {
    val rnd = new scala.util.Random(140263L)
    type N = (org.apache.spark.sql.Column, String, Long)
    val centsQ: N = ((money(col("l_quantity")) * 100).cast("long") % 10000,
      "(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) % 10000)", 10000L)
    val centsP: N = ((money(col("l_extendedprice")) * 100).cast("long") % 100000,
      "(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 100000)",
      100000L)
    def leaf(): N = rnd.nextInt(5) match {
      case 0 => (col("l_orderkey") % 10000, "(l_orderkey % 10000)", 10000L)
      case 1 => (col("l_linenumber").cast("long"),
        "CAST(l_linenumber AS BIGINT)", 8L)
      case 2 => (col("l_partkey") % 1000, "(l_partkey % 1000)", 1000L)
      case 3 => centsQ
      case _ => centsP
    }
    def clamp(n: N): N =
      if (n._3 > 1500000000L)
        (n._1 % 1000000007L, s"(${n._2} % 1000000007)", 1000000007L)
      else n
    def combine(a: N, b: N): N = clamp(rnd.nextInt(10) match {
      case 0 => (a._1 + b._1, s"(${a._2} + ${b._2})", a._3 + b._3)
      case 1 => (a._1 - b._1, s"(${a._2} - ${b._2})", a._3 + b._3)
      case 2 => (a._1 * b._1, s"(${a._2} * ${b._2})", a._3 * b._3)
      case 3 => // truncating div, positive divisor: (a - a%k)/k is exact
        // (numerator = trunc(a/k)*k, |a| <= 1.5e9 << 2^53) and matches
        // both engines' toward-zero integer division
        val k = 2 + rnd.nextInt(97)
        (((a._1 - (a._1 % k)) / k).cast("long"), s"(${a._2} // $k)", a._3)
      case 4 =>
        val m = Seq(97L, 1009L, 10007L)(rnd.nextInt(3))
        (a._1 % m, s"(${a._2} % $m)", m)
      case 5 => // AND of two negatives can EXCEED both magnitudes
        // (-6 & -3 = -8): same next-pow2 envelope as OR/XOR
        (a._1.bitwiseAND(b._1), s"(${a._2} & ${b._2})",
          4L * math.max(a._3, b._3))
      case 6 => (a._1.bitwiseOR(b._1), s"(${a._2} | ${b._2})",
        // OR of two non-negative values is < 2 * next-pow2(max)
        4L * math.max(a._3, b._3))
      case 7 => (a._1.bitwiseXOR(b._1), s"xor(${a._2}, ${b._2})",
        4L * math.max(a._3, b._3))
      case 8 => (greatest(a._1, b._1), s"greatest(${a._2}, ${b._2})",
        math.max(a._3, b._3))
      case _ => (least(a._1, b._1), s"least(${a._2}, ${b._2})",
        math.max(a._3, b._3))
    })
    def unary(a: N): N = clamp(rnd.nextInt(4) match {
      case 0 => (abs(a._1 - lit(a._3 / 2)), s"abs(${a._2} - ${a._3 / 2})",
        2L * a._3)
      case 1 => (signum(a._1 - lit(a._3 / 2)).cast("long"),
        s"CAST(sign(${a._2} - ${a._3 / 2}) AS BIGINT)", 1L)
      case 2 =>
        val k = 1 + rnd.nextInt(8)
        (shiftleft((a._1 % 256).cast("long"), k).cast("long"),
          s"((${a._2} % 256) << $k)", 256L << k)
      case _ => (-a._1, s"(- ${a._2})", a._3)
    })
    (0 until 16).map { i =>
      var n: N = leaf()
      val depth = 1 + rnd.nextInt(3)
      (0 until depth).foreach { _ =>
        n = if (rnd.nextInt(3) == 0) unary(n) else combine(n, leaf())
      }
      ValueFuzzCase(i, n._1.cast("long"), s"CAST(${n._2} AS BIGINT)")
    }
  }

  /** String-fuzz cases: seeded lockstep (Column, SQL) chains of 1..3
    * string functions (upper/lower/trim/reverse/substr/lpad/rpad/replace/
    * translate/repeat/concat) over the part table's three string columns.
    * All content is ASCII and both engines compare/order strings bytewise,
    * so every composed value is exact cross-engine; the checksum reduces
    * each case's multiset of strings to integers (count, summed length,
    * summed 32-bit md5 prefix, min/max). Pitfall avoidance is part of the
    * generated grammar: substr positions start at 1 (position 0 is the
    * engines' one divergent convention), pad lengths exercise BOTH the
    * pad and truncate sides. */
  private[graft] lazy val strFuzzCases: Seq[ValueFuzzCase] = {
    val rnd = new scala.util.Random(140262L)
    val bases = Seq("p_name", "p_type", "p_brand")
    def op(in: (org.apache.spark.sql.Column, String)): (org.apache.spark.sql.Column, String) = {
      val (c, s) = in
      rnd.nextInt(11) match {
        case 0 => (upper(c), s"upper($s)")
        case 1 => (lower(c), s"lower($s)")
        case 2 => (trim(c), s"trim($s)")
        case 3 => (reverse(c), s"reverse($s)")
        case 4 =>
          val p = 1 + rnd.nextInt(8); val l = 1 + rnd.nextInt(12)
          (substring(c, p, l), s"substr($s, $p, $l)")
        case 5 =>
          val n = 2 + rnd.nextInt(24)
          (lpad(c, n, "z"), s"lpad($s, $n, 'z')")
        case 6 =>
          val n = 2 + rnd.nextInt(24)
          (rpad(c, n, "_"), s"rpad($s, $n, '_')")
        case 7 =>
          val (from, to) = Seq(("a", "oo"), ("e", ""), ("r", "#"))(rnd.nextInt(3))
          (org.apache.spark.sql.functions.replace(c, lit(from), lit(to)),
            s"replace($s, '$from', '$to')")
        case 8 => (translate(c, "aeiou", "01234"),
          s"translate($s, 'aeiou', '01234')")
        case 9 =>
          val k = 2 + rnd.nextInt(2)
          (repeat(c, k), s"repeat($s, $k)")
        case _ => (concat(c, lit("_t")), s"($s || '_t')")
      }
    }
    (0 until 16).map { i =>
      val b = bases(rnd.nextInt(bases.length))
      val n = 1 + rnd.nextInt(3)
      val (c, s) = (1 to n).foldLeft((col(b), b)) { (acc, _) => op(acc) }
      ValueFuzzCase(i, c, s)
    }
  }

  /** Decimal-fuzz cases: seeded lockstep (Column, SQL) DECIMAL arithmetic
    * trees probing precision/scale propagation and rounding — the other
    * engine-divergence hotspot next to integer overflow (q_fuzz_numeric):
    * Spark widens precision toward 38 and HALF_UPs on scale loss, DuckDB
    * keeps max-input precision and TRUNCATES on decimal downcasts. Engine
    * ground rules baked into the grammar (each probed live against DuckDB):
    *  - `round(d, k)` rounds half away from zero in BOTH engines (= Spark
    *    HALF_UP on decimals: 2.345→2.35, -2.345→-2.35), so EVERY scale
    *    reduction in the grammar is a round(), never a bare downcast
    *    (DuckDB `CAST(2.345 AS DECIMAL(10,2))` = 2.34 truncates where
    *    Spark gives 2.35 — the one primitive deliberately NOT emitted).
    *  - DuckDB decimal division yields DOUBLE (not DECIMAL), so the
    *    division terminal is only emitted in the tie-free aligned form
    *    `round(a / k, s+4)` with k ODD and coprime to 10: a tie would
    *    need 2·a·10^(s+4) = k·(2n+1) — even = odd, impossible — so the
    *    double-path quotient (DuckDB) and the exact-decimal HALF_UP
    *    quotient (Spark, ≥7 guard digits at its max(6, s1+p2+1) result
    *    scale) round identically; the dividend is mod-reduced below 10^3
    *    first so double error (~1e-13) stays ≥4 orders of magnitude from
    *    the ≥5e-9 boundary gap. (avg is NOT probed: DuckDB computes it in
    *    DOUBLE with a data-dependent divisor, so no tie-free aligned form
    *    exists — sum/count cover the same state exactly.)
    *  - DuckDB multiplication keeps max input precision (DECIMAL(18,2) ×
    *    DECIMAL(18,2) = DECIMAL(18,4)) where Spark widens — the tracked
    *    per-row scaled bound stays ≤1.5e9 (mod-9973 reduction after a
    *    round-to-scale-4) so neither engine overflows and the weighted
    *    row sums stay inside BIGINT through sf10 (1.5e9·6e7·98 < 2^63).
    * Each case's per-row value is scaled by 10^scale into an exact BIGINT
    * while still DECIMAL-typed (never via a double→int cast: Spark
    * truncates those, DuckDB rounds half-even). */
  private[graft] lazy val decFuzzCases: Seq[ValueFuzzCase] = {
    val rnd = new scala.util.Random(152601L)
    def pow10(k: Int): Long = { var r = 1L; (0 until k).foreach(_ => r *= 10); r }
    // (column, sql, scale, bound on |v|·10^scale)
    type N = (org.apache.spark.sql.Column, String, Int, Long)
    def leaf(): N = rnd.nextInt(5) match {
      case 0 => (money(col("l_quantity")),
        "CAST(l_quantity AS DECIMAL(18,2))", 2, 5200L)
      case 1 => (money(col("l_extendedprice")),
        "CAST(l_extendedprice AS DECIMAL(18,2))", 2, 11000000L)
      case 2 => (money(col("l_discount")),
        "CAST(l_discount AS DECIMAL(18,2))", 2, 11L)
      case 3 => (money(col("l_tax")),
        "CAST(l_tax AS DECIMAL(18,2))", 2, 9L)
      case _ =>
        val cents = 1 + rnd.nextInt(999) // 0.01 .. 9.99, exact both engines
        val str = s"${cents / 100}.${"%02d".format(cents % 100)}"
        (lit(new java.math.BigDecimal(str)),
          s"CAST($str AS DECIMAL(18,2))", 2, cents.toLong)
    }
    // reduce scale (HALF_UP both engines) then magnitude so every node
    // keeps |v|·10^scale ≤ 1.5e10 — inside DuckDB's 18-digit products and
    // inside BIGINT for the 600k-row weighted sums
    def clamp(n: N): N = {
      val r =
        if (n._3 > 4) (round(n._1, 4), s"round(${n._2}, 4)", 4,
          n._4 / pow10(n._3 - 4) + 1)
        else n
      if (r._4 > 1500000000L)
        ((r._1 % 9973), s"(${r._2} % 9973)", r._3, 9973L * pow10(r._3))
      else r
    }
    def combine(a0: N, b0: N): N = {
      val (a, b) = (clamp(a0), clamp(b0))
      // tracked bounds are ≤1.5e10 each, so the double-space product test
      // can't overflow; mul is demoted to add when the product would blow
      // the per-row budget
      val mulOk = a._4.toDouble * b._4.toDouble <= 1.2e9
      val pick0 = rnd.nextInt(6)
      val pick = if (pick0 == 2 && !mulOk) 0
        else if (pick0 == 5 && a._3 < 1) 1 else pick0
      val s = math.max(a._3, b._3)
      def widen(n: N): Long = n._4 * pow10(s - n._3)
      pick match {
        case 0 => // add: result scale = max(s1, s2), exact in both engines
          clamp((a._1 + b._1, s"(${a._2} + ${b._2})", s, widen(a) + widen(b)))
        case 1 =>
          clamp((a._1 - b._1, s"(${a._2} - ${b._2})", s, widen(a) + widen(b)))
        case 2 => // mul: scale s1+s2; both engines exact (bound-guarded)
          clamp((a._1 * b._1, s"(${a._2} * ${b._2})", a._3 + b._3,
            a._4 * b._4))
        case 3 | 4 =>
          // greatest/least — via CASE on the DuckDB side: its native
          // greatest() promotes ANY decimal pair to DOUBLE, while a CASE
          // over an exact decimal comparison stays DECIMAL (and probes
          // mixed-scale comparison on top)
          val (f, cmp, nm) =
            if (pick == 3) (greatest(a._1, b._1), ">=", "greatest")
            else (least(a._1, b._1), "<=", "least")
          val _ = nm
          clamp((f,
            s"(CASE WHEN (${a._2}) $cmp (${b._2}) THEN (${a._2}) ELSE (${b._2}) END)",
            s, math.max(widen(a), widen(b))))
        case _ => // round to a COARSER scale: HALF_UP both engines
          val k = 1 + rnd.nextInt(a._3) // a._3 >= 1 guarded above
          val s2 = a._3 - k
          clamp((round(a._1, s2), s"round(${a._2}, $s2)", s2,
            a._4 / pow10(k) + 1))
      }
    }
    def unary(a0: N): N = {
      val a = clamp(a0)
      rnd.nextInt(3) match {
        case 0 => (abs(a._1), s"abs(${a._2})", a._3, a._4)
        case 1 => (-a._1, s"(- ${a._2})", a._3, a._4)
        case _ =>
          val cents = 1 + rnd.nextInt(500)
          val str = s"${cents / 100}.${"%02d".format(cents % 100)}"
          val s = math.max(a._3, 2)
          (a._1 - lit(new java.math.BigDecimal(str)), s"(${a._2} - $str)",
            s, a._4 * pow10(s - a._3) + cents * pow10(s - 2))
      }
    }
    (0 until 16).map { i =>
      var n: N = leaf()
      val depth = 1 + rnd.nextInt(3)
      (0 until depth).foreach { _ =>
        n = if (rnd.nextInt(3) == 0) unary(n) else combine(n, leaf())
      }
      if (rnd.nextInt(2) == 0) {
        // division terminal: tie-free odd-coprime-10 divisor (see scaladoc)
        val pre = clamp(n)
        val red = if (pre._3 > 2) (round(pre._1, 2), s"round(${pre._2}, 2)", 2,
          pre._4 / pow10(pre._3 - 2) + 1) else pre
        val m: N = ((red._1 % 997), s"(${red._2} % 997)", red._3,
          997L * pow10(red._3))
        val k = Seq(3, 7, 9, 11, 13, 17, 19, 21, 23, 27)(rnd.nextInt(10))
        val s = m._3 + 4
        val q: N = (round(m._1 / lit(k), s), s"round((${m._2}) / $k, $s)", s,
          m._4 * pow10(4) / k + 1)
        // DuckDB's quotient path is DOUBLE, so the scaled-integer checksum
        // re-rounds before the BIGINT cast (value is n ± ~1e-9, never near
        // a half boundary); Spark's stays DECIMAL-exact throughout
        ValueFuzzCase(i, (q._1 * pow10(s)).cast("long"),
          s"CAST(round((${q._2}) * ${pow10(s)}) AS BIGINT)")
      } else {
        val f = clamp(n)
        ValueFuzzCase(i, (f._1 * pow10(f._3)).cast("long"),
          s"CAST((${f._2}) * ${pow10(f._3)} AS BIGINT)")
      }
    }
  }

  /** The lineitem slice the wire gates (s23, s25-s27) read: registered
    * in the store and served by a loopback row server once per (JVM, dir)
    * — the port rides the stage cache value. Returns the wire reader over
    * it. */
  private def wireLineitem(s: SparkSession, dir: String) = {
    val coll = "li_wire" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val port = stageCache.getOrElseUpdate(s"wire#$dir", {
      graft.sources.mem.MemStore.register(coll,
        t(s, dir, "lineitem")
          .where(pmod(col("l_orderkey"), lit(20)) === 1)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"))
      graft.sources.mem.MemWireServer.start().port.toString
    })
    s.read.format("graft.sources.mem.GraftMemSource")
      .option("collection", coll)
      .option("client", "wire").option("port", port)
  }

  /** Each click of the event log matched to the same user's purchase by
    * an as-of join on exact-micros times (the q_asof_* gates): the most
    * recent prior-or-equal purchase, or with `forward` the next one at or
    * after the click; `keepUnmatched` keeps clicks with no match. */
  private def clickPurchaseAsOf(s: SparkSession, dir: String,
      forward: Boolean, keepUnmatched: Boolean): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("ts_us", Tables.tsMicros(col("ts")))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_us"))
    val join = if (forward) Joins.asOfForward _ else Joins.asOf _
    val gap = if (forward) col("asof.p_ts_us") - col("ts_us")
      else col("ts_us") - col("asof.p_ts_us")
    join(clicks, col("user_id"), col("ts_us"),
        purchases, col("user_id"), col("ts_us"),
        Seq(col("purchase_id"), col("ts_us").as("p_ts_us")),
        col("purchase_id"), keepUnmatched)
      .select(col("click_id"), col("user_id"),
        col("asof.purchase_id").as("purchase_id"), gap.as("gap_us"))
  }

  /** The WARC fixture of the src_warc_* gates, staged once per JVM under
    * `tag` (stage key `tag#dir`, directory prefix `graft-tag`): the first
    * 200 documents as HTTP response records with `<h1>Doc N</h1><p>text
    * </p>` markup, written by `write` into 4 archive members
    * `member_<m><suffix>`; read back with the HTTP header block peeled
    * and the markup stripped. */
  private def warcFixture(s: SparkSession, dir: String, tag: String,
      suffix: String,
      write: (Seq[graft.sources.Warc.WarcRecord], java.nio.file.Path) => Unit): DataFrame = {
    val docs = t(s, dir, "documents")
    val stage = stagedFeed(s"$tag#$dir", s"graft-$tag") { st =>
      val rows = docs.where(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val members = rows.groupBy { case (id, _) => id % 4 }
      members.foreach { case (m, recs) =>
        write(
          recs.map { case (id, text) =>
            val html = s"<html><body><h1>Doc $id</h1><p>$text</p></body></html>"
            val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
              html).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            graft.sources.Warc.WarcRecord("response",
              s"<urn:uuid:graft-$id>", s"http://graft.test/doc/$id",
              payload.length.toLong, payload)
          }.toSeq,
          java.nio.file.Paths.get(s"$st/member_$m$suffix"))
      }
    }
    graft.sources.Warc.readRecords(s, s"$stage/*$suffix").select(
        regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("target_uri"), col("warc_type"), col("content_length"),
        TextAnalysis.stripHtml(
          graft.sources.Warc.httpBody(col("payload"))).as("clean"))
      .withColumn("n_clean_chars", length(col("clean")))
  }

  /** nation ⋈ region as (n_nationkey, n_name, r_name): the frame the
    * sink and format round-trip gates write and read back. */
  private def nationRegion(s: SparkSession, dir: String): DataFrame =
    Joins.inner(t(s, dir, "nation"), "n_regionkey", t(s, dir, "region"), "r_regionkey")
      .select("n_nationkey", "n_name", "r_name")

  /** [[nationRegion]] written in `format` to a fresh temp dir and read
    * back with the written schema. */
  private def formatRoundtrip(s: SparkSession, dir: String, format: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val out = exitManagedTempDir(s"graft_$format").toString
    val df = nationRegion(s, dir)
    df.write.mode("overwrite").options(options).format(format).save(out)
    s.read.schema(df.schema).options(options).format(format).load(out)
  }

  /** nation zipped with region by key order (row i with row i) — shared
    * by `j2_zipwith` and `j3_zip`. */
  private val zipNationRegionSql =
    """WITH l AS (SELECT n_nationkey, n_name,
                         ROW_NUMBER() OVER (ORDER BY n_nationkey) AS rn FROM nation),
            r AS (SELECT r_regionkey, r_name,
                         ROW_NUMBER() OVER (ORDER BY r_regionkey) AS rn FROM region)
       SELECT n_nationkey, n_name, r_regionkey, r_name FROM l JOIN r USING (rn)"""

  /** Closed-form replay of the staged WARC fixture ([[warcFixture]]):
    * uri/type from the id, declared length = 44-octet HTTP prefix + the
    * staged markup, strip('<h1>Doc N</h1><p>text</p>') = 'Doc N text'
    * exactly. */
  private val warcOracleSql =
    """SELECT doc_id,
              'http://graft.test/doc/' || doc_id AS target_uri,
              'response' AS warc_type,
              CAST(44 + length('<html><body><h1>Doc ' || doc_id ||
                '</h1><p>' || text || '</p></body></html>') AS BIGINT)
                AS content_length,
              'Doc ' || doc_id || ' ' || text AS clean,
              CAST(length('Doc ' || doc_id || ' ' || text) AS BIGINT)
                AS n_clean_chars
       FROM documents WHERE doc_id < 200"""

  /** The oracle of the sink and format round-trip gates. */
  private val nationRegionSql =
    """SELECT n_nationkey, n_name, r_name
       FROM nation JOIN region ON n_regionkey = r_regionkey"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The fuzz sweep extended to the ANALYTIC grammar: 12 seeded window
    // cases (see winFuzzCases) each reduced to one integer-exact checksum
    // row — count/sum/orderkey-weighted-sum/min/max of the window value —
    // so a frame-clamping or tie-handling divergence anywhere in 600k
    // window evaluations fails the hash naming the case id. One window
    // pass + one aggregate per case; each case Catalyst-planned
    // independently (the window exec itself is under test).
    "q_fuzz_window" -> ((s, dir) =>
      fuzzChecksums(t(s, dir, "lineitem"), winFuzzCases, Some("l_orderkey"))),

    // The fuzz sweep extended to CALENDAR arithmetic (see dateFuzzCases):
    // 16 seeded shift×terminal date expressions evaluated over every
    // order date and reduced to one integer-exact checksum row each —
    // month-clamping, ISO weeks, or DOW-origin divergence anywhere in
    // 2.4M date evaluations fails the hash naming the case id.
    "q_fuzz_dates" -> ((s, dir) =>
      fuzzChecksums(t(s, dir, "orders"), dateFuzzCases, Some("o_orderkey"))),

    // The fuzz sweep extended to INTEGER arithmetic (see numFuzzCases):
    // 16 seeded bounded op trees (+,-,*, toward-zero div/mod, two's-
    // complement bitwise, abs/sign/greatest/least) over exact leaves,
    // one integer-exact checksum row per case — a sign-convention,
    // overflow-wrap, or bit-semantics divergence fails the hash naming
    // the case id.
    "q_fuzz_numeric" -> ((s, dir) =>
      fuzzChecksums(t(s, dir, "lineitem"), numFuzzCases, Some("l_orderkey"))),

    // The fuzz sweep extended to STRING functions (see strFuzzCases):
    // 16 seeded 1..3-deep function chains over the part table's string
    // columns, each reduced to an integer-exact checksum row (count /
    // summed length / summed 32-bit md5 prefix / bytewise min & max) —
    // a padding, truncation, replace, or case-mapping divergence anywhere
    // fails the hash naming the case id.
    "q_fuzz_strings" -> ((s, dir) =>
      fuzzChecksums(t(s, dir, "part"), strFuzzCases, None)),

    // The fuzz sweep extended to DECIMAL arithmetic (see decFuzzCases):
    // 16 seeded precision/scale-tracked op trees (+, -, ×, HALF_UP
    // round, greatest/least, abs/negate, tie-free odd-divisor division)
    // over exact DECIMAL(18,2) leaves, each scaled into one integer-exact
    // checksum row — a scale-propagation, rounding-mode, or
    // decimal-overflow divergence anywhere in 600k evaluations fails the
    // hash naming the case id.
    "q_fuzz_decimal" -> ((s, dir) =>
      fuzzChecksums(t(s, dir, "lineitem"), decFuzzCases, Some("l_orderkey"))),

    // The fuzz sweep extended to JOINS: each seeded case filters both
    // sides and counts/sums the o_orderkey = l_orderkey equi-join —
    // machine-made coverage of filter-through-join pushdown and
    // join-strategy choice under varying selectivity. Eight bounded
    // equi-joins, each Catalyst-planned independently.
    "q_fuzz_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      joinFuzzCases.map { c =>
        o.where(c.oPred)
          .join(li.where(c.lPred), col("o_orderkey") === col("l_orderkey"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(money(col("l_extendedprice"))).cast("double").as("sum_price"),
            min(col("o_orderkey")).as("min_ok"),
            max(col("l_orderkey")).as("max_ok"))
          .select(lit(c.id).as("case_id"), col("n_rows"), col("sum_price"),
            col("min_ok"), col("max_ok"))
      }.reduce(_ unionByName _)
    }),

    // The join-fuzz sweep extended to NULL-EXTENDING join types (r13
    // verdict #7): the SAME 8 seeded (orders-pred, lineitem-pred) pairs,
    // each run as left/right/full outer plus left-semi/left-anti —
    // null-extension and existence semantics are where engines disagree,
    // and filter placement must be BEFORE the join (filtered subqueries on
    // both engines) or an outer join silently degrades to inner. Aggregates
    // expose the extension: COUNT(*) counts extended rows, COUNT(col)
    // counts the side's survivors. Semi/anti mirror Spark's left_semi/
    // left_anti via ANSI EXISTS/NOT EXISTS (null keys never match — the
    // same rule both engines apply to the equi-condition).
    "q_fuzz_join_outer" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val outers = for {
        c <- joinFuzzCases
        jt <- Seq("left_outer", "right_outer", "full_outer")
      } yield o.where(c.oPred)
        .join(li.where(c.lPred), col("o_orderkey") === col("l_orderkey"), jt)
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_o"),
          count(col("l_orderkey")).as("n_l"),
          sum(money(col("l_extendedprice"))).cast("double").as("sum_price"),
          min(col("o_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_lk"))
        .select(lit(c.id).as("case_id"), lit(jt.stripSuffix("_outer")).as("jt"),
          col("n_rows"), col("n_o"), col("n_l"), col("sum_price"),
          col("min_ok"), col("max_lk"))
      val exists = for {
        c <- joinFuzzCases
        jt <- Seq("left_semi", "left_anti")
      } yield o.where(c.oPred)
        .join(li.where(c.lPred), col("o_orderkey") === col("l_orderkey"), jt)
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_o"),
          min(col("o_orderkey")).as("min_ok"))
        .select(lit(c.id).as("case_id"), lit(jt.stripPrefix("left_")).as("jt"),
          col("n_rows"), col("n_o"), lit(0L).as("n_l"),
          lit(null).cast("double").as("sum_price"),
          col("min_ok"), lit(null).cast("long").as("max_lk"))
      (outers ++ exists).reduce(_ unionByName _)
    }),

    // Z-order (Morton) clustering value — the multi-column layout lever
    // (Delta/Iceberg OPTIMIZE ZORDER semantics): bit-interleave two
    // quantized keys so range-partitioning the result keeps per-file
    // min/max narrow on BOTH columns (LayoutSpec measures the skipping
    // advantage; this gate pins the exact integer curve value per row).
    "q_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.functions.Layout.zValue(
          pmod(col("l_orderkey"), lit(1024L)),
          pmod(col("l_partkey"), lit(1024L)), bits = 10).as("z"))
    }),


    // Differential fuzz sweep: the 32 seeded predicate shapes evaluated
    // as CONDITIONAL aggregates in ONE scan (count / decimal-exact sum /
    // min / max per case), then stacked to one row per case. The oracle
    // is generated from the SAME FuzzCase list, so both engines run
    // machine-identical predicates — a combination either matches
    // row-for-row or the hash fails naming the case id.
    "q_fuzz_parity" -> ((s, dir) => fuzzCondAggs(t(s, dir, "lineitem"), None)),

    // The fuzz sweep extended to the AGGREGATION grammar: the same 32
    // seeded predicates as conditional aggregates UNDER A GROUP BY — one
    // scan, one hash aggregate, per-(case, group) rows. Covers the
    // predicate × grouped-aggregation combination space the per-operator
    // gates can't. Its 96 aggregate buffers made it the single largest
    // gate in the idle sweep before the long-backed sums.
    "q_fuzz_grouped" -> ((s, dir) =>
      fuzzCondAggs(t(s, dir, "lineitem"), Some("l_returnflag"))),


    // S1 — scan with predicate + projection pushdown (reference
    // storage.scala:315-327; pushdown into find()). Catalyst pushes both
    // into the parquet scan: .explain shows PushedFilters + 3-col ReadSchema.
    "s1_scan_pushdown" -> ((s, dir) => {
      val q = Q()
        .where(("l_quantity" $gte 30.0) && ("l_returnflag" $eq "A"))
        .select("l_orderkey", "l_partkey", "l_quantity")
      q(t(s, dir, "lineitem"))
    }),


    // P1/P2/P7 + O1/O2/O3 — chained range (implicit AND map-merge,
    // reference dsl/package.scala:62-69) + sort/skip/limit pushdown
    // (dsl/package.scala:48-58). The sort runs over every selected
    // column, so the skip/limit slice is deterministic: (l_orderkey,
    // l_linenumber) alone repeats in the test data.
    "p_dsl_range_sort_page" -> ((s, dir) => {
      val q = Q()
        .where("l_quantity" $gte 10.0 $lte 15.0)
        .sort("l_orderkey" -> Order.Ascending, "l_linenumber" -> Order.Ascending,
          "l_quantity" -> Order.Ascending)
        .skip(5)
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      q(t(s, dir, "lineitem"))
    }),


    // P3/P4/P5/P8 — $ne/$in/$nin with and/or connectives
    // (reference mongo/package.scala:87-90,101-120).
    "p_dsl_bool_ops" -> ((s, dir) => {
      val pred =
        (("o_orderstatus" $ne "F") && ("o_orderpriority" $in Seq("1-URGENT", "2-HIGH"))) ||
          (("o_totalprice" $gt 400000.0) && ("o_orderpriority" $nin Seq("5-LOW")))
      Q().where(pred).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")(
        t(s, dir, "orders"))
    }),


    // P6 — `$all` on an array field (reference mongo/package.scala:89, test
    // IntegrationMongoClientSpec.scala:183): every listed value must be
    // contained. Array column derived by tokenizing documents.text — the
    // same shape as the reference's array-valued Mongo fields.
    "p6_all_array" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("words", split(col("text"), " "))
      Q().where("words" $all Seq("scan", "column")).select("doc_id")(docs)
    }),


    // P10 — `fk` parameter binding (reference dsl/package.scala:84,91-92):
    // the outer key bound into the parameterized inner query of a join —
    // here the inner side is pre-restricted by the bound key, exactly the
    // reference's per-outer-row inner query with its `fk` filled in.
    "p10_fk_param" -> ((s, dir) => {
      val orders = Q().where("o_orderkey" $eq 7L)(t(s, dir, "orders"))
      Joins.inner(orders, "o_orderkey", t(s, dir, "lineitem"), "l_orderkey",
          innerPred = Some(fk("l_orderkey", 7L)))
        .select(col("o_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),


    // P15 — the `|>` pipe (reference channel/package.scala:50-55): arbitrary
    // stage application via Dataset.transform, operator spelling restored.
    "p15_pipe" -> ((s, dir) => {
      t(s, dir, "customer") |>
        (df => df.where(col("c_acctbal") > 5000.0)) |>
        (df => df.select(col("c_custkey"), col("c_name"),
          (money(col("c_acctbal")) * money(lit(1.1))).cast("double").as("boosted_bal")))
    }),


    // J1 — the flagship inner join: DSL-filtered outer × keyed inner with a
    // mapper projection (reference join/package.scala:52-63,74-132).
    "j1_join_inner" -> ((s, dir) => {
      val orders = Q().where("o_orderstatus" $eq "O")(t(s, dir, "orders"))
      Joins.inner(orders, "o_orderkey", t(s, dir, "lineitem"), "l_orderkey")
        .select(
          col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"),
          col("l_partkey"),
          col("l_quantity"),
          (money(col("l_extendedprice")) * (money(lit(1.0)) - money(col("l_discount"))))
            .cast("double").as("net_price"))
    }),


    // S3/O6/T1 — partitioned event-log scan with offset resume
    // (reference log/package.scala:56-62, storage.scala:329-349).
    // Changelog materialization over the event log — the lakehouse
    // MERGE/compaction semantics (latest upsert wins per key; a key whose
    // latest op is a delete is absent): event_type maps deterministically
    // to the op ('error' rows are deletes, everything else upserts), the
    // unique event_id breaks same-timestamp ties. One partial-aggregated
    // max(struct) per key, no per-key window over the full log
    // ([[graft.operators.EventLog.applyChangelog]]). The output omits the
    // raw timestamp (it only ORDERS — the q_window_lag parity precedent).
    "s29_changelog_apply" -> ((s, dir) => {
      val log = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
        .withColumn("op",
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")))
      graft.operators.EventLog.applyChangelog(log, "user_id", "ts",
          "event_id", "op", "delete", payload = Seq("event_type", "value"))
        .select(col("user_id"), col("event_id"), col("op"),
          col("event_type"), col("value"))
    }),


    // Snapshot AS OF — time travel over the SAME changelog as
    // s29_changelog_apply: the state the log described at
    // 2024-01-15T00:00Z (mid-corpus; epoch 1705276800000000 µs). Events
    // after the bound — including deletes — have not happened yet, so a
    // key deleted later is PRESENT here and a key inserted later is
    // absent. The bound is a plain pushable predicate ahead of the
    // identical one-shuffle max(struct) fold
    // ([[graft.operators.EventLog.snapshotAsOf]]); ordering rides the
    // epoch-µs rendering of ts (drift-proof across testdata eras).
    "s31_snapshot_asof" -> ((s, dir) => {
      val log = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(Tables.tsFromNanos(col("ts"))).as("ts_us"),
          col("event_type"), col("value"))
        .withColumn("op",
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")))
      EventLog.snapshotAsOf(log, "user_id", "ts_us", "event_id", "op",
          "delete", payload = Seq("event_type", "value"),
          asOf = lit(1705276800000000L))
        .select(col("user_id"), col("event_id"), col("op"),
          col("event_type"), col("value"))
    }),


    // Resample + gap-fill over the event log — the time_bucket + locf
    // primitive ([[graft.operators.EventLog.resampleLocf]]): hourly
    // buckets per user across each user's whole span, empty buckets
    // emitted with n_events=0 and the last observed value carried
    // forward. LOCF copies a value (no arithmetic), so the double column
    // is exact cross-engine; bucketing is integer `div`.
    "s33_resample_locf" -> ((s, dir) => {
      val log = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(Tables.tsFromNanos(col("ts"))).as("ts_us"),
          col("value"))
      EventLog.resampleLocf(log, "user_id", "ts_us", "event_id", "value",
        bucketUs = 3600000000L)
    }),


    "s3_eventlog_offset" -> ((s, dir) => {
      EventLog.from(t(s, dir, "events"), "user_id", lit(7L), "event_id",
          offset = 100L, maxPartitionSize = 256L)
        .select(col("user_id"), col("event_id"), col("partition_nr"),
          col("event_type"), col("value"))
    }),


    // P11/S5 — MQL string query through the channel builder (reference
    // mqlparser/package.scala:67-235 grammar; channel/package.scala:206-263
    // builder): parsed to the Pred algebra, compiled to Catalyst Columns.
    "p11_mql_channel" -> ((s, dir) => {
      graft.channel.Channel.create(s, dir) { b =>
        b.q("""{ "$or": [ { "l_quantity": { "$gte": 45 } },
                          { "l_returnflag": { "$in": ["A"] }, "l_quantity": { "$lt": 5 } } ] }""")
        b.collection("lineitem")
        b.sort("l_orderkey" -> Order.Ascending, "l_linenumber" -> Order.Ascending,
          "l_quantity" -> Order.Ascending, "l_returnflag" -> Order.Ascending)
        b.skip(3)
        b.limit(500)
      }.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    }),


    // The reference's FULL cursor contract through the CONNECTOR,
    // data-checked (spec-only until r11): an MQL filter + sort + skip +
    // limit channel over a registered store collection — the result rides
    // the connector's pushed filter, cursor TopN, and skip, so a pushdown
    // bug that corrupts ordering, pagination, or filtering breaks the
    // hash, not just a spec assertion. Collection = a 5% lineitem slice
    // registered once per (JVM, dir); the sort runs over every column,
    // a total order on the rows, so the page is deterministic in both
    // engines ((l_orderkey, l_linenumber) alone repeats in the test data).
    "p19_channel_mem_cursor" -> ((s, dir) => {
      val coll = "li_cursor" + dir.replaceAll("[^A-Za-z0-9]", "_")
      stageCache.getOrElseUpdate(s"memli#$dir", {
        graft.sources.mem.MemStore.register(coll,
          t(s, dir, "lineitem")
            .where(pmod(col("l_orderkey"), lit(20)) === 0)
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"))
        coll
      })
      graft.channel.Channel.create(s, dir) { b =>
        b.q("""{ "l_quantity": { "$gte": 30 } }""")
        b.memCollection(coll)
        b.sort("l_orderkey" -> Order.Ascending, "l_linenumber" -> Order.Ascending,
          "l_quantity" -> Order.Ascending, "l_returnflag" -> Order.Ascending)
        b.skip(5)
        b.limit(200)
      }
    }),


    // P11+ — MQL `$not`/`$exists`, BEYOND the reference parser's own TODO
    // (mqlparser/package.scala:98). No table carries nulls, so the gate
    // derives a null-bearing column (NULL lang for doc_id % 7 == 0 — the
    // oracle mirrors the same CASE) and runs one query exercising
    // $exists:false, $exists:true, and $not over a range op, composed
    // under $or. SQL three-valued semantics throughout (Exists scaladoc).
    "p17_mql_not_exists" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("lang_opt",
        when(col("doc_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("lang")))
      val p = graft.mql.MqlParser.parse(
        """{ "$or": [ { "lang_opt": { "$exists": false } },
                      { "lang_opt": { "$exists": true },
                        "n_chars": { "$not": { "$lt": 600 } } } ] }""")
      docs.where(p.column).select("doc_id", "lang_opt", "n_chars")
    }),


    // S5-preferred — full SQL text through Catalyst's parser (SURVEY.md
    // §2.2 P11 verdict: "prefer spark.sql"): the reference's string-query
    // channel upgraded to ANSI SQL.
    "q_sql_direct" -> ((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("supplier_v")
      t(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql("""SELECT n_name, COUNT(*) AS n_suppliers,
                      CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
               FROM supplier_v JOIN nation_v ON s_nationkey = n_nationkey
               GROUP BY n_name""")
    }),


    // §2.7 — correlated EXISTS / NOT EXISTS subqueries: Catalyst
    // DECORRELATES both into joins (semi + anti) — the planner feature a
    // SQL user hits constantly; identical text runs in DuckDB.
    "q_correlated_exists" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders_v o
               WHERE EXISTS (SELECT 1 FROM lineitem_v l
                             WHERE l.l_orderkey = o.o_orderkey
                               AND l.l_quantity >= 49.0)
                 AND NOT EXISTS (SELECT 1 FROM lineitem_v l
                                 WHERE l.l_orderkey = o.o_orderkey
                                   AND l.l_returnflag = 'R')""")
    }),


    // §2.7 — RECURSIVE CTE (new in Spark 4): transitive closure of the
    // planted 3-hop chain graph in PURE SQL — the same fixed-point
    // semantics dedup_cluster_cc implements with pointer-jumping, here
    // delegated to Catalyst's recursion operator. One SQL text serves
    // both engines (only the table name differs).
    "q_recursive_cte" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("docs_v")
      s.sql(recursiveClosureSql("docs_v"))
    }),


    // P9/S2 — raw SQL predicate fragment (reference's raw-CQL select,
    // dsl/package.scala:83-86) parsed by Catalyst.
    "s2_scan_raw" -> ((s, dir) => {
      Q().where(RawSql("event_type IN ('click','view') AND value > 50"))
        .select("event_id", "event_type", "value")(t(s, dir, "events"))
    }),


    // §1.2 dynamic-schema regime — the reference's ragged Mongo documents
    // (fields present on some rows only ⇒ nulls, SURVEY.md §1.2): JSON
    // document column parsed schema-on-read; missing keys become nulls.
    // json_tuple parses the document ONCE for both fields (get_json_object
    // re-parsed per extraction — and the pushed filter re-parsed again:
    // 3 parses/row, the slowest round-1 bench entry); the generator output
    // shares the single parse and the filter sits above the Generate node.
    "p_dynamic_json" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          json_tuple(col("props"), "k", "missing_field").as(Seq("k_raw", "missing_field")))
        .withColumn("k", col("k_raw").cast("int"))
        .where(col("k") > 50)
        .select("event_id", "k", "missing_field")
    }),


    // P12 — single-column typed extraction (reference `column[B]`,
    // channel/package.scala:181-188) via a primitive Encoder.
    "p12_column" -> ((s, dir) => {
      import s.implicits._
      val names: org.apache.spark.sql.Dataset[String] =
        t(s, dir, "part").select("p_name").as[String]
      names.toDF("p_name")
    }),


    // P13/P14 — case-class projection + typed per-record map (reference
    // `as[T]` channel/package.scala:194-203 and `map` :62): by-name Encoder
    // derivation, then a typed transform that round-trips the rows through
    // the object form.
    "p13_as_typed" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders").as[graft.model.OrderRow]
        .filter(o => o.o_totalprice > 300000.0)
        .map(o => (o.o_orderkey, o.o_orderstatus, o.o_totalprice))
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    }),


    // J2/J3 — deterministic pairwise zip of two ordered relations, stopping
    // at the shorter side (reference zipWith, channel/package.scala:92-143).
    "j2_zipwith" -> ((s, dir) => {
      Joins.zipByOrdinal(
        t(s, dir, "nation").select("n_nationkey", "n_name"),
        Seq(col("n_nationkey").asc),
        t(s, dir, "region").select("r_regionkey", "r_name"),
        Seq(col("r_regionkey").asc))
    }),


    // J3 — `zip`: pairwise alignment into (left, right) structs (reference
    // channel/package.scala:143), flattened for the oracle compare.
    "j3_zip" -> ((s, dir) => {
      Joins.zip(
          t(s, dir, "nation").select("n_nationkey", "n_name"),
          Seq(col("n_nationkey").asc),
          t(s, dir, "region").select("r_regionkey", "r_name"),
          Seq(col("r_regionkey").asc))
        .select(col("left.n_nationkey").as("n_nationkey"), col("left.n_name").as("n_name"),
          col("right.r_regionkey").as("r_regionkey"), col("right.r_name").as("r_name"))
    }),


    // J4 — `zip` against a size-restricting side (reference zip+limit,
    // channel/package.scala:108): the shorter (limited) side bounds the
    // output length through the min-length inner join on ordinals.
    "j4_zip_limit" -> ((s, dir) => {
      val r3 = t(s, dir, "region").select("r_regionkey", "r_name")
        .orderBy(col("r_regionkey")).limit(3)
      Joins.zip(
          t(s, dir, "nation").select("n_nationkey", "n_name"),
          Seq(col("n_nationkey").asc),
          r3, Seq(col("r_regionkey").asc))
        .select(col("left.n_nationkey").as("n_nationkey"), col("left.n_name").as("n_name"),
          col("right.r_regionkey").as("r_regionkey"), col("right.r_name").as("r_name"))
    }),


    // J5 — `tee`: arbitrary deterministic two-input combinator (reference
    // channel/package.scala:118-119) — here instantiated with a keyed join.
    "j5_tee" -> ((s, dir) => {
      Joins.tee(t(s, dir, "supplier"), t(s, dir, "nation")) { (sup, nat) =>
        sup.join(nat, sup("s_nationkey") === nat("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
      }
    }),


    // J6 — one-to-one log zip: two event-log partitions aligned by ordinal
    // with min-length semantics (reference
    // test/eventlog/PartitionedLogCassandraSpec.scala:116-152, asserting
    // `domainSize - 15` — output length = the shorter log).
    "j6_log_zip" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"))
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("view_user"))
      Joins.zipByOrdinal(clicks, Seq(col("click_id").asc), views, Seq(col("view_id").asc))
    }),


    // S6 — batch sink: write the result to a parquet sink, read it back
    // (the reference's sink surface is the driver; the roundtrip proves
    // schema + data survive the sink, oracle-checked).
    "s6_sink_roundtrip" -> ((s, dir) => {
      val out = exitManagedTempDir("graft_sink").toString
      nationRegion(s, dir).write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }),


    // U1 — nondeterministic tagged merge (reference `either`,
    // channel/package.scala:129-131), flattened to a comparable shape.
    "u1_either" -> ((s, dir) => {
      val l = t(s, dir, "customer").select(col("c_name").as("name"))
      val r = t(s, dir, "supplier").select(col("s_name").as("name"))
      Joins.either(l, r)
        .select(col("side"), coalesce(col("left.name"), col("right.name")).as("name"))
    }),


    // U2 — ordered source concatenation (reference `++`,
    // test/SportCenterSpec.scala:88).
    "u2_concat" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      Joins.concat(
        li.where(col("l_quantity") <= 2.0),
        li.where(col("l_quantity") >= 49.0))
    }),


    // §2.8 extension — event-time tumbling window aggregation (batch form).
    // The reference has event_time in the data model but never windows it
    // (SURVEY.md §2.8); Spark supplies window() natively. Sums are exact
    // decimals for the DuckDB compare (time_bucket == window alignment).
    "q_time_window" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("event_ts", Tables.tsFromNanos(col("ts")))
        .groupBy(window(col("event_ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("value"))).cast("double").as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
    }),


    // §2.8 extension — SLIDING event-time windows (1 h window, 30 min
    // slide): every event lands in exactly two overlapping windows.
    "q_sliding_window" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("event_ts", Tables.tsFromNanos(col("ts")))
        .groupBy(window(col("event_ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("value"))).cast("double").as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
    }),


    // §2.9 custom stateful operator — flatMapGroupsWithState running totals
    // (the reference's abandoned Semigroup `conflate`,
    // join/package.scala:162-171, industrialized). Batch-gated: the final
    // per-key state equals GROUP BY totals. Values are summed as exact
    // integer cents (integer-valued doubles add associatively — immune to
    // per-group iteration order).
    "t_stateful_running" -> ((s, dir) => {
      import s.implicits._
      val cents = t(s, dir, "events")
        .select(col("user_id"),
          (money(col("value")) * 100).cast("long").as("cents"))
        .as[(Long, Long)]
      graft.streaming.Stateful.runningTotals[(Long, Long)](
          cents, _._1, _._2.toDouble)
        .groupByKey(_.key)
        .reduceGroups((a, b) => if (a.events >= b.events) a else b)
        .map(_._2)
        .toDF()
        .select(col("key").as("user_id"), col("events"),
          col("sum").cast("long").as("sum_cents"))
    }),


    // Schema EVOLUTION across parquet files — the lakehouse reality that
    // a long-lived dataset's older files lack newer columns: stage two
    // slices written with DIFFERENT schemas (the early slice has no
    // `lang`), read them back as ONE dataset via mergeSchema, absent
    // columns null-filled. The oracle re-derives the merged view from
    // the canonical table (the roundtrip-gate convention).
    "src_schema_evolution" -> ((s, dir) => {
      val out = exitManagedTempDir("graft_evo").toString
      val docs = t(s, dir, "documents")
      docs.where(col("doc_id") < 250).select("doc_id", "n_chars")
        .write.mode("overwrite").parquet(out + "/era1")
      docs.where(col("doc_id") >= 250).select("doc_id", "n_chars", "lang")
        .write.mode("overwrite").parquet(out + "/era2")
      s.read.option("mergeSchema", "true")
        .parquet(out + "/era1", out + "/era2")
        .select("doc_id", "n_chars", "lang")
    }),


    // S6 sinks, more formats — CSV and JSON roundtrips: write the sink,
    // read it back with the written schema (proves schema + data survive
    // the format, oracle-checked like the parquet roundtrip).
    "src_csv_roundtrip" -> ((s, dir) => formatRoundtrip(s, dir, "csv", Map("header" -> "true"))),

    // Text source, wholetext mode — raw-corpus ingestion (one document
    // per file, the layout crawl dumps and book corpora arrive in):
    // stage 25 docs as UTF-8 .txt files once per JVM, read them back via
    // the text source with `wholetext` (newlines inside a doc survive),
    // recover ids from the `_metadata.file_path` column. Oracle = the
    // same slice of the documents table.
    "src_text_roundtrip" -> ((s, dir) => {
      val stage = stagedFeed(s"textsrc#$dir", "graft-textsrc") { st =>
        t(s, dir, "documents").where(col("doc_id") < 25)
          .select(col("doc_id"), col("text")).collect().foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(st, s"doc_${r.getLong(0)}.txt"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
      }
      s.read.option("wholetext", "true").text(stage)
        .select(
          regexp_extract(col("_metadata.file_path"), "doc_(\\d+)\\.txt$", 1)
            .cast("long").as("doc_id"),
          col("value").as("text"))
    }),

    "src_json_roundtrip" -> ((s, dir) => formatRoundtrip(s, dir, "json")),

    "src_orc_roundtrip" -> ((s, dir) => formatRoundtrip(s, dir, "orc")),


    // §2.7 — full CUBE grouping sets (rollup's sibling).
    "q_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("l_quantity"))).cast("double").as("sum_qty"))
    }),


    // §2.7 — LATERAL correlated subquery (top-1 order per customer):
    // Catalyst decorrelates the per-row ORDER BY LIMIT into a ranked
    // window join — no per-row re-execution, unlike the reference's
    // index-nested-loop shape this generalizes.
    "q_lateral_topn" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("lat_customer")
      t(s, dir, "orders").createOrReplaceTempView("lat_orders")
      s.sql(
        """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
           FROM lat_customer c, LATERAL (
             SELECT o_orderkey, o_totalprice FROM lat_orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
           ) o
           WHERE c.c_acctbal > 9000""")
    }),


    // §2.7 — explicit GROUPING SETS (the general form rollup/cube sugar
    // over): chosen sets (flag, status), (flag), () — Catalyst expands to
    // one Expand + single hash aggregate, not N scans.
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           FROM gs_lineitem
           GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")
    }),


    // Custom operator — AS-OF join (SURVEY.md §7.3 "compose existing ops"):
    // each click matched to the user's most recent prior-or-equal purchase.
    // One shuffle on the key (union + per-key window), no range explosion.
    // Oracle: DuckDB's NATIVE ASOF JOIN. Time keys are exact micros longs.
    "q_asof_join" -> ((s, dir) =>
      clickPurchaseAsOf(s, dir, forward = false, keepUnmatched = false)),


    // FORWARD as-of — the NEXT purchase at or after each click (the
    // other half of the as-of surface; [[graft.operators.Joins
    // .asOfForward]] — the same one-shuffle window composition on
    // negated times). Oracle: DuckDB ASOF JOIN with the inequality
    // reversed.
    "q_asof_forward" -> ((s, dir) =>
      clickPurchaseAsOf(s, dir, forward = true, keepUnmatched = false)),


    // AS-OF join, LEFT variant — unmatched left rows survive with null
    // payload (`keepUnmatched = true`). Oracle: DuckDB ASOF LEFT JOIN.
    "q_asof_left" -> ((s, dir) =>
      clickPurchaseAsOf(s, dir, forward = false, keepUnmatched = true)),


    // §2.8 extension — session windows (gap-based): the stateful windowing
    // the reference's event-time data model never got (SURVEY.md §2.8).
    // Session starts/counts are exact integers (unix micros), so the
    // gaps-and-islands SQL in DuckDB reproduces them bit-for-bit.
    "q_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("event_ts", Tables.tsFromNanos(col("ts")))
        .groupBy(session_window(col("event_ts"), "2 hours").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
          col("n_events"))
    }),


    // §2.7 — distribution window functions: ntile buckets + the two
    // rank-ratio statistics. With a unique total order (price desc, key
    // asc) rank == row_number, so percent_rank and cume_dist are exact
    // integer ratios — engine-identical doubles.
    "q_window_dist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
    }),


    // Interval-OVERLAP join (temporal/genomic overlap): click attention
    // windows [ts, ts+30m] against purchase decision windows [ts, ts+15m]
    // for the same user — binned equi-join with first-shared-bin dedup,
    // never an inequality nested loop. Binning is result-invariant ⇒ the
    // oracle is the plain overlap-predicate join.
    "q_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(Tables.tsFromNanos(col("ts"))).as("us"))
      val c = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("us").as("c_start"), (col("us") + 1800000000L).as("c_end"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("us").as("p_start"), (col("us") + 900000000L).as("p_end"))
      Joins.intervalJoin(c, p, "c_start", "c_end", "p_start", "p_end",
          binWidth = 1800000000L, extraKeys = Seq("c_user" -> "p_user"))
        .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"))
    }),


    // §2.7 — ranking window function with deterministic tie-break.
    "q_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("rn"))
    }),


    // §2.7 — lag/lead/first_value event features (the per-user sequence
    // deltas every behavioral training pipeline derives): one window pass
    // per key, total order (event_id tie-break), delta as a single IEEE
    // subtraction over raw doubles.
    "q_window_lag" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(col("user_id"), col("event_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"),
        first(col("event_type")).over(w).as("first_type"))
    }),


    // §2.7 — higher-order array functions (filter/transform/aggregate/
    // sort), all codegen-free lambda evaluation over the token array in
    // one projection — integer-exact, so the DuckDB list_* forms match.
    "q_array_funcs" -> ((s, dir) => {
      val arr = split(col("text"), " ")
      t(s, dir, "documents").select(col("doc_id"),
        size(filter(arr, x => length(x) > 4)).as("n_long_tokens"),
        array_max(transform(arr, x => length(x))).as("max_token_len"),
        aggregate(transform(arr, x => length(x)), lit(0L),
          (acc, x) => acc + x).as("total_token_chars"),
        size(array_distinct(arr)).as("n_distinct_tokens"),
        element_at(array_sort(array_distinct(arr)), 1).as("first_token_sorted"))
    }),


    // §2.7 — running (cumulative) aggregate per key over the event log.
    "q_window_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("running_value", sum(money(col("value"))).over(w).cast("double"))
        .select(col("user_id"), col("event_id"), col("value"), col("running_value"))
    }),


    // §2.7 — RANGE-framed window (value-based frame: all events within
    // the trailing hour BY TIMESTAMP, not by row count): includes all
    // ts-peers, so the result is deterministic under ties where a ROWS
    // frame would not be. Micros are exact longs; sums are exact cents.
    "q_window_range" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      t(s, dir, "events")
        .withColumn("ts_us", Tables.tsMicros(col("ts")))
        .withColumn("cents", (money(col("value")) * 100).cast("long"))
        .withColumn("sum_cents_1h", sum(col("cents")).over(w))
        .select(col("user_id"), col("event_id"), col("sum_cents_1h"))
    }),


    // §2.6 — top-k (Catalyst fuses to TakeOrderedAndProject: no global sort).
    "q_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),


    // Skew-mitigated salted join — the hot-key spread is result-invariant,
    // so the oracle is the PLAIN join SQL: proof that salting changes the
    // partitioning, never the multiset.
    "j_salted_skew" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
      Joins.saltedInner(li, "l_orderkey", o, "o_orderkey", salts = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
    }),


    // Bloom-pre-filtered semi join — the explicit form of runtime row-level
    // filtering: a bounded sketch of the selective dim side's keys prunes
    // the fact side at the scan, BEFORE the join exchange; the exact semi
    // join downstream removes Bloom false positives. The sketch is
    // result-invariant, so the oracle is the plain IN-subquery SQL — same
    // invariant style as j_salted_skew (salting vs plain join).
    "j_bloom_semi" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
      Joins.bloomSemiJoin(li, "l_orderkey", o, "o_orderkey",
          expectedKeys = 100000L, fpp = 0.01)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),


    // The ANTI direction — a negative Bloom probe GUARANTEES
    // non-membership, so ~all fact rows of a selective dim side bypass
    // the join exchange entirely; only the fpp-bounded candidate sliver
    // pays the exact anti join. Result-invariant ⇒ plain NOT-EXISTS SQL.
    "j_bloom_anti" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
      Joins.bloomAntiJoin(li, "l_orderkey", o, "o_orderkey",
          expectedKeys = 100000L, fpp = 0.01)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),


    // Bucketed CO-LOCATED join — the storage-layout lever that makes the
    // 100 TB fact-fact join affordable: both sides are bucketed on the
    // join key at write time (staged once per JVM), so the join reads
    // matching buckets side-by-side with NO exchange on either input
    // (plan-asserted in LayoutSpec; broadcast + AQE disabled in a child
    // session so the exchange-free sort-merge shape is what actually
    // runs). Bucketing is result-invariant ⇒ the oracle is the plain
    // join + aggregate SQL over the raw parquet.
    "j_bucketed_join" -> ((s, dir) => {
      val (oT, lT) = bucketedTables(s, dir)
      val ss = s.newSession()
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      ss.table(oT).join(ss.table(lT), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("l_extendedprice")) *
            (money(lit(1.0)) - money(col("l_discount"))))
            .cast("double").as("revenue"))
    }),


    // §2.4 extension — left outer join with an ON-clause filter so unmatched
    // rows survive as nulls (absent in the reference; free in Spark).
    "q_join_left" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val li = t(s, dir, "lineitem").where(col("l_quantity") >= 49.0)
      p.join(li, p("p_partkey") === li("l_partkey"), "left")
        .select(col("p_partkey"), col("l_orderkey"), col("l_quantity"))
    }),


    // §2.4 extension — full outer join (both unmatched sides survive).
    "q_join_full" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val li = t(s, dir, "lineitem").where(col("l_quantity") >= 49.0)
      p.join(li, p("p_partkey") === li("l_partkey"), "full_outer")
        .select(col("p_partkey"), col("l_orderkey"), col("l_quantity"))
    }),


    // §2.4 extension — semi join (EXISTS).
    "q_join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),


    // §2.4 extension — anti join (NOT EXISTS).
    "q_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),


    // §2.7 — hierarchical aggregate (ROLLUP) with grouping-set semantics.
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("l_quantity"))).cast("double").as("sum_qty"))
    }),


    // §2.5 extension — set operations the reference lacks (SURVEY.md §2.5).
    "q_intersect" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.where(col("l_quantity") >= 49.0).select(col("l_partkey"))
        .intersect(li.where(col("l_quantity") <= 2.0).select(col("l_partkey")))
    }),

    // the BAG-semantics (ALL) twins: multiplicities are preserved, so
    // duplicates count — a different aggregate shape than the DISTINCT
    // forms (count-compare per key, no dedup)
    "q_intersect_all" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.where(col("l_quantity") >= 49.0).select(col("l_partkey"))
        .intersectAll(li.where(col("l_quantity") <= 2.0).select(col("l_partkey")))
    }),

    "q_except_all" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select(col("l_partkey"))
        .exceptAll(li.where(col("l_returnflag") === "A").select(col("l_partkey")))
    }),

    "q_except" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.where(col("l_quantity") >= 49.0).select(col("l_partkey"))
        .except(li.where(col("l_quantity") <= 2.0).select(col("l_partkey")))
    }),


    // §2.7 extension — scalar function library (string/date/math built-ins
    // the reference delegates to Scala lambdas; here they're codegen'd
    // Catalyst functions with DuckDB-matching semantics).
    "q_scalar_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .where(col("o_orderkey") <= 1000)
        .select(
          col("o_orderkey"),
          upper(col("o_orderpriority")).as("prio_upper"),
          substring(col("o_orderpriority"), 1, 1).as("prio_code"),
          length(col("o_orderstatus")).as("status_len"),
          concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"),
          dayofmonth(col("o_orderdate")).as("order_day"),
          (money(col("o_totalprice")) - money(lit(100000.0))).cast("double").as("delta"),
          abs((money(col("o_totalprice")) - money(lit(100000.0))).cast("double")).as("abs_delta"),
          greatest(col("o_custkey"), col("o_orderkey")).as("max_key"))
    }),


    // §2.7 extension — pivot (wide aggregation); DuckDB oracle uses
    // FILTER-ed conditional aggregates for the same shape.
    "q_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"))
    }),


    // §2.7 extension — unpivot (long-form reshape, the inverse of pivot):
    // 4 measure columns melt to (metric, value) rows. Map-only expansion
    // (each input row emits 4 output rows in the same task — no shuffle);
    // DuckDB runs its native UNPIVOT for the identical reshape.
    "q_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem").where(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
    }),


    // §2.7 extension — grouped array aggregation (nested result type):
    // the per-key DISTINCT set, SORTED so the array value is
    // deterministic under any partitioning/arrival order. Partial
    // aggregation combines the sets map-side. The set is emitted as a
    // comma-joined STRING, not a raw array: the driver's oracle harness
    // sorts result rows with pandas, which cannot order numpy array
    // cells (r5 `q_collect_list` err) — serializing keeps the value
    // comparable while the aggregation under test is unchanged.
    "q_collect_list" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
          count(lit(1)).as("n_events"))
    }),


    // §2.7 — exact percentiles (sort-based, linear interpolation — the
    // deterministic form; approx quantile sketches are rows-only land).
    "q_percentile" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"))
    }),


    // §2.7 — scalar subquery in a predicate (orders in the top decile of
    // the global max price).
    "q_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_ssq_v")
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders_ssq_v
               WHERE o_totalprice >= 0.9 * (SELECT MAX(o_totalprice) FROM orders_ssq_v)""")
    }),


    // §2.7 — exact distinct aggregation.
    "q_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
    }),


    // §2.7 — approximate distinct (HLL++). Deterministic in Spark but not
    // DuckDB-comparable → rows-only check by design.
    // Differential gate (r8): HLL++ estimates are not SQL-reproducible,
    // but the EXACT distinct counts are, and the estimator's contract
    // (relative error within 3×rsd of the default rsd=0.05) is a checkable
    // boolean. A broken sketch (or a broken merge of partial sketches)
    // breaks the booleans; the exact counts hash-verify the rest.
    "q_approx_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def within(approx: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
        (abs(approx - exact).cast("double") / exact.cast("double")) <= 0.15
      li.agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        within(approx_count_distinct(col("l_partkey")),
          countDistinct(col("l_partkey"))).as("parts_within_tol"),
        within(approx_count_distinct(col("l_orderkey")),
          countDistinct(col("l_orderkey"))).as("orders_within_tol"))
    }),


    // §2.7 — approximate percentile (KLL-style sketch): mergeable bounded
    // state vs the exact form's full sort. Differential gate: the sketch
    // value is not SQL-reproducible, but its CONTRACT is — the approx
    // result's true rank interval [count(<v), count(<=v)] must intersect
    // [q·n − n/acc, q·n + n/acc] (accuracy=1000). The exact percentile
    // (interpolated, = DuckDB quantile_cont, proven by q_percentile)
    // hash-verifies alongside the booleans.
    "q_approx_percentile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.agg(
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("apx50"),
        percentile_approx(col("l_quantity"), lit(0.9), lit(1000)).as("apx90"),
        count(lit(1)).as("n"))
      def rankOk(apx: org.apache.spark.sql.Column, q: Double) = {
        val lo = sum(when(col("l_quantity") < apx, 1L).otherwise(0L))
        val hi = sum(when(col("l_quantity") <= apx, 1L).otherwise(0L))
        val tol = first(col("n")).cast("double") / 1000.0
        val target = first(col("n")).cast("double") * q
        (lo.cast("double") <= target + tol) && (hi.cast("double") >= target - tol)
      }
      li.crossJoin(broadcast(a)).agg(
        expr("percentile(l_quantity, 0.5)").as("exact_p50"),
        expr("percentile(l_quantity, 0.9)").as("exact_p90"),
        rankOk(col("apx50"), 0.5).as("p50_rank_ok"),
        rankOk(col("apx90"), 0.9).as("p90_rank_ok"))
    }),


    // §2.4/§2.7 extension — 3-way join + aggregation + top-k (TPC-H Q3
    // shape): the classic multi-join plan Catalyst reorders/broadcasts.
    "q3_shipping" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(o("o_orderkey").as("o_orderkey"),
          o("o_orderdate").cast("date").as("order_date"))
        .agg(sum(money(col("l_extendedprice")) * (money(lit(1.0)) - money(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(20)
    }),


    // ANALYZE-style table statistics — the CBO/AQE input primitive: one
    // scan producing row count, per-column null counts, exact NDV, and
    // min/max for a representative column set (keys, a low-cardinality
    // flag, and a decimal-exact measure). Exact NDV keeps the oracle
    // comparable at test scale; the 100 TB path swaps COUNT(DISTINCT)
    // for approx_count_distinct (HLL) per column — same plan shape,
    // sketch instead of exact (the q_hll_distinct contract covers that
    // estimator separately).
    "q_analyze_stats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_orderkey").isNull.cast("long")).as("nulls_orderkey"),
        countDistinct(col("l_orderkey")).as("ndv_orderkey"),
        min(col("l_orderkey")).as("min_orderkey"),
        max(col("l_orderkey")).as("max_orderkey"),
        countDistinct(col("l_partkey")).as("ndv_partkey"),
        min(col("l_partkey")).as("min_partkey"),
        max(col("l_partkey")).as("max_partkey"),
        countDistinct(col("l_returnflag")).as("ndv_returnflag"),
        min(col("l_returnflag")).as("min_returnflag"),
        max(col("l_returnflag")).as("max_returnflag"),
        countDistinct(money(col("l_quantity"))).as("ndv_quantity"),
        (money(min(col("l_quantity"))) * 100).cast("long").as("min_qty_cents"),
        (money(max(col("l_quantity"))) * 100).cast("long").as("max_qty_cents"))
    }),


    // Integer PageRank over the order↔part bipartite graph (both
    // directions of every lineitem row as edges, multi-edges kept): 4
    // power iterations in EXACT fixed-point arithmetic
    // ([[graft.operators.Graph.pageRankInt]]) — floating-point PageRank
    // is not oracle-comparable, integer PageRank is bit-identical under
    // any partitioning or summation order. The iterative-computation
    // showpiece next to dedup_cluster_cc's pointer jumping.
    "q_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        concat(lit("o"), col("l_orderkey").cast("string")).as("o"),
        concat(lit("p"), col("l_partkey").cast("string")).as("p"))
      val edges = li.select(col("o").as("src"), col("p").as("dst"))
        .unionByName(li.select(col("p").as("src"), col("o").as("dst")))
      Graph.pageRankInt(edges, "src", "dst", iters = 4)
    }),


    // TPC-H Q5 shape — the 6-way snowflake join (lineitem ⋈ orders ⋈
    // customer ⋈ supplier ⋈ nation ⋈ region) with the co-nationality
    // predicate and a date-range filter: the classic join-order/broadcast
    // stress. Dimension sides (supplier/nation/region) carry explicit
    // broadcast hints — at 100 TB the fact tables shuffle on their join
    // keys and every dimension stays exchange-free.
    "q5_local_supplier" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .where(col("o_orderdate").cast("date") >= to_date(lit("1996-01-01")) &&
          col("o_orderdate").cast("date") < to_date(lit("1997-01-01")))
      val l = t(s, dir, "lineitem")
      val sup = broadcast(t(s, dir, "supplier"))
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region").where(col("r_name") === "ASIA"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(money(col("l_extendedprice")) *
            (money(lit(1.0)) - money(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc)
    }),


    // TPC-H Q10 shape — returned-item revenue per customer, top 20:
    // fact-fact join + a broadcast dimension + group-by-high-cardinality
    // key + deterministic top-k (revenue DESC, c_custkey ASC tie-break —
    // TakeOrderedAndProject, never a global sort of all customers).
    "q10_returned" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .where(col("o_orderdate").cast("date") >= to_date(lit("1996-01-01")) &&
          col("o_orderdate").cast("date") < to_date(lit("1996-04-01")))
      val l = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
      val n = broadcast(t(s, dir, "nation"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(money(col("l_extendedprice")) *
            (money(lit(1.0)) - money(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),


    // Point-in-interval RANGE join, binned to an equi-join: clicks landing
    // inside a 10-minute window after any error spike (value > 150).
    // Spark's native plan for a pure BETWEEN predicate is
    // BroadcastNestedLoopJoin — Θ(points × intervals) at corpus scale;
    // Joins.rangeJoin quantizes both sides to binWidth-sized bins and
    // hash-joins on the bin id (spec asserts no BNLJ in the plan).
    "q_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_us", Tables.tsMicros(col("ts")))
      val spikes = ev.where(col("event_type") === "error" && col("value") > 150.0)
        .select(col("event_id").as("spike_id"), col("ts_us").as("start_us"),
          (col("ts_us") + 600000000L).as("end_us"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_us").as("click_us"))
      Joins.rangeJoin(clicks, spikes, "click_us", "start_us", "end_us",
          binWidth = 600000000L)
        .select(col("spike_id"), col("click_id"), col("user_id"),
          (col("click_us") - col("start_us")).as("gap_us"))
    }),


    // Multimodal REAL PNG round-trip (round-7 verdict #5): deterministic
    // gray images (geometry and color closed-form in doc_id) are encoded
    // through the JDK's real PNG codec, then decoded back to a raster by
    // the typed mapPartitions stage. mean_red is a CONTENT statistic: PNG
    // is lossless, so the uniform fill must survive zlib round-trip
    // exactly — the oracle is pure closed-form geometry.
    // Multimodal INGESTION from a file store — Spark's built-in
    // `binaryFile` source, the actual path a 100 TB image corpus arrives
    // through (each object = one row with path/length/content; the source
    // parallelizes across files and pushes a pathGlobFilter). The gate
    // stages deterministic PNGs (gate staging, like s10's files), reads
    // them back through binaryFile, recovers the id from the PATH, and
    // runs the real decode stage — oracle is the same closed-form
    // geometry as mm_png_decode over the staged id range.
    "src_binaryfile_media" -> ((s, dir) => {
      import s.implicits._
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png").load(binaryFileStage)
        .select(
          regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
            .cast("long").as("doc_id"),
          col("content"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) => Multimodal.MediaRecord(id, bytes, "png") }
      Multimodal.decodeImageMeta(media).toDF()
        .select("doc_id", "width", "height", "n_pixels", "mean_red")
    }),


    // WARC raw-crawl ingestion (r14 verdict #4) — the canonical LLM
    // source format. The gate stages a real WARC/1.0 fixture (4 archive
    // members, records framed with CRLF headers + Content-Length octets +
    // HTTP response payloads, built deterministically from the documents
    // table), reads it back through [[graft.sources.Warc.readRecords]]
    // (binaryFile member-per-task parse, map-only), peels the HTTP header
    // block with the codegen'd [[Warc.httpBody]], and composes the
    // EXISTING stripHtml text path. Oracle: the same records in closed
    // form over documents (the staged markup is `<h1>Doc N</h1><p>text
    // </p>`, whose strip is exactly 'Doc N text'; the HTTP prefix is 44
    // octets, and the corpus is ASCII so octets == chars).
    "src_warc_ingest" -> ((s, dir) =>
      warcFixture(s, dir, "warc", ".warc", graft.sources.Warc.writeMember)),


    // GZIPPED WARC members (r15 verdict #3) — what Common Crawl actually
    // ships: `.warc.gz` with record-level gzip members (one gzip member
    // per record, concatenated). Same fixture records as src_warc_ingest
    // but written through [[Warc.writeMemberGz]]; [[Warc.readRecords]]
    // detects the 0x1f8b magic and inflates through the member-boundary-
    // transparent GZIPInputStream path, so rows must be BYTE-IDENTICAL to
    // the plain-text gate's — one oracle SQL serves both.
    "src_warc_gz" -> ((s, dir) =>
      warcFixture(s, dir, "warcgz", ".warc.gz", graft.sources.Warc.writeMemberGz)),


    // Hive-style PARTITIONED layout — the other storage lever (with
    // bucketing) of the 100 TB posture: events staged once per JVM
    // partitioned by event_type, then read back with a partition-key
    // filter. The filter prunes at the directory LISTING (LayoutSpec
    // asserts the scan lists exactly one of the five partitions — a 100 TB
    // date-partitioned log reads one day, not the archive). Layout is
    // result-invariant ⇒ the oracle is the plain filter SQL.
    "src_partitioned_scan" -> ((s, dir) => {
      val stage = stagedFeed(s"partlay#$dir", "graft-partlay") { st =>
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(st)
      }
      s.read.parquet(stage).where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    }),


    // HLL sketch distinct-count (Apache DataSketches via hll_sketch_agg —
    // the built-in mergeable-sketch surface). Items are per-token unique
    // ids (doc_id#pos), so the true distinct count per language is the
    // token count — cheap for the oracle — while the sketch runs in real
    // estimation territory (tens of thousands of uniques per group at
    // sf0.01). Two differential invariants, both deterministic (HLL
    // registers are order-invariant maxes): the direct estimate lands
    // within ±10% of exact (lgK=12 → RSE 1.6%, so 10% is >6 sigma), and a
    // two-level merge — per-source sketches hll_union_agg'd per language —
    // estimates within the SAME bound (shard-combinability at 100 TB).
    // The merged estimate is NOT asserted bit-equal to the direct one:
    // union normalizes to dense HLL mode, while a small direct sketch can
    // still be in exact sparse mode — the accuracy contract survives the
    // merge, the representation doesn't.
    "q_hll_distinct" -> ((s, dir) => {
      val items = t(s, dir, "documents")
        .select(col("lang"), col("source"), col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .select(col("lang"), col("source"),
          concat_ws("#", col("doc_id"), col("pos")).as("item"))
      val direct = items.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_exact"),
          hll_sketch_estimate(hll_sketch_agg(col("item"), 12)).as("est"))
      val merged = items.groupBy(col("lang"), col("source"))
        .agg(hll_sketch_agg(col("item"), 12).as("sk"))
        .groupBy(col("lang"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_m"))
      direct.join(merged, Seq("lang"))
        .select(col("lang"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.10)
            .as("est_ok"),
          (abs(col("est_m") - col("n_exact")) <= col("n_exact") * 0.10)
            .as("merge_ok"))
    }),


    // §2.7 extension — grouped aggregation (TPC-H Q1 shape). The reference
    // has no aggregates (SURVEY.md §2.7); Catalyst supplies partial+final
    // hash aggregation. Money math accumulates EXACT INTEGER CENTS in
    // long (pure codegen'd long arithmetic — no per-row Decimal objects,
    // which made the decimal(18,2)-sum form 3× slower). Every per-row
    // value is a whole number of cents (floor(x*100+0.5) recovers it
    // exactly from the stored double — inputs are non-negative, so this
    // is round-half-up).
    //
    // Bit-parity with the oracle's CAST(SUM(decimal) AS DOUBLE) holds at
    // ANY scale (r4 advice #5): the exact long sums are widened to
    // decimal, scaled down by the power of ten IN DECIMAL (exact — the
    // result scale ≥ the needed 2/4 digits), and cast to double once per
    // GROUP — the same single correctly-rounded conversion the oracle
    // performs. The previous form cast the long sum to double BEFORE
    // dividing, which is exact only while the sum stays under 2^53
    // (≈ sf 10 for sum_disc_price). The disc-price product (≤ ~1e9 per
    // row) is further split into (quotient, remainder) by 10^4 — two long
    // sums, each bounded by rows/group × 1e5, recombined exactly in
    // per-group decimal math — so long accumulation itself holds to
    // ~9e13 rows per group (≈ petabytes of lineitem), not 9e9.
    "q1_agg" -> ((s, dir) => {
      val cents = (c: org.apache.spark.sql.Column) =>
        floor(c * 100.0 + 0.5).cast("long")
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          cents(col("l_quantity")).as("qty_c"),
          cents(col("l_extendedprice")).as("ep_c"),
          cents(col("l_discount")).as("disc_c"))
        .withColumn("dp", col("ep_c") * (lit(100L) - col("disc_c")))
        .withColumn("dp_hi", expr("dp DIV 10000"))
        .withColumn("dp_lo", col("dp") - col("dp_hi") * lit(10000L))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (dec(sum(col("qty_c"))) / lit(100)).cast("double").as("sum_qty"),
          (dec(sum(col("ep_c"))) / lit(100)).cast("double").as("sum_base_price"),
          ((dec(sum(col("dp_hi"))) * lit(10000) + dec(sum(col("dp_lo")))) / lit(10000))
            .cast("double").as("sum_disc_price"),
          ((dec(sum(col("qty_c"))) / lit(100)).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),


    // r12 WIRE-LEVEL client, data-checked: the reference talks to its
    // stores over driver connections (storage.scala:315-327,644-658);
    // here the full cursor page (pushed filter + cursor TopN) is served
    // by the loopback TCP row server through SocketStoreClient — one
    // connection per partition reader, rows crossing a REAL typed
    // serialization boundary. A codec or framing bug breaks the hash.
    "s23_wire_cursor" -> ((s, dir) => {
      wireLineitem(s, dir)
        .load()
        .where(col("l_quantity") >= 25)
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
          col("l_quantity").asc, col("l_returnflag").asc)
        .limit(300)
    }),


    // the pushed cursor pipeline through the binary row frames (the
    // BSON/CQL-native row shape, the one wire row codec) composed with
    // deflate: DuckDB checks frames under the inflater end-to-end across
    // the full pipeline
    "s27_wire_binary" -> ((s, dir) => {
      wireLineitem(s, dir)
        .option("deflate", "true")
        .load()
        .where(col("l_quantity") >= 20 && col("l_quantity") <= 35)
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
          col("l_quantity").asc, col("l_returnflag").asc)
        .limit(200)
    }),


    // the SAME pushed cursor pipeline through zlib-compressed responses
    // (the deflate connector option — MongoDB's OP_COMPRESSED shape):
    // shares s23's oracle semantics on a different predicate, so the
    // driver's DuckDB hash check covers the inflater path end-to-end,
    // not just the spec's in-process assertions
    "s26_wire_deflate" -> ((s, dir) => {
      wireLineitem(s, dir)
        .option("deflate", "true")
        .load()
        .where(col("l_returnflag") =!= "N" && col("l_quantity") < 20)
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
          col("l_quantity").asc, col("l_returnflag").asc)
        .limit(250)
    }),


    // r12 NESTED join pushdown, data-checked: a THREE-collection chain
    // (customer ⋈ orders ⋈ lineitem slices registered in the store)
    // collapses into ONE scan under Spark's SupportsPushDownJoin rule —
    // the MemRel tree's Derived wrapping at work. The oracle recomputes
    // the same 3-way join in DuckDB, so a wrong Derived projection,
    // filter fold, or condition parse breaks rows/hash, not just a spec.
    // Collections + the pushdown-enabled child session cached per
    // (JVM, dir).
    "s24_join3_pushdown" -> ((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      stageCache.getOrElseUpdate(s"join3#$dir", {
        graft.sources.mem.MemStore.register(s"j3cust$tag",
          t(s, dir, "customer").where(pmod(col("c_custkey"), lit(10)) === 0)
            .select("c_custkey", "c_name", "c_mktsegment"))
        graft.sources.mem.MemStore.register(s"j3ord$tag",
          t(s, dir, "orders").where(pmod(col("o_orderkey"), lit(8)) === 0)
            .select("o_orderkey", "o_custkey", "o_orderstatus"))
        graft.sources.mem.MemStore.register(s"j3li$tag",
          t(s, dir, "lineitem").where(pmod(col("l_orderkey"), lit(8)) === 0)
            .where(col("l_quantity") >= 40)
            .select("l_orderkey", "l_linenumber", "l_quantity"))
        "staged"
      })
      val ss = s.newSession()
      ss.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      def ld(c: String) = ss.read.format("graft.sources.mem.GraftMemSource")
        .option("collection", c + tag).load()
      ld("j3li").alias("l")
        .join(ld("j3ord").alias("o"), col("l.l_orderkey") === col("o.o_orderkey"))
        .join(ld("j3cust").alias("c"), col("o.o_custkey") === col("c.c_custkey"))
        .select(col("c.c_name"), col("c.c_mktsegment"),
          col("o.o_orderkey"), col("o.o_orderstatus"),
          col("l.l_linenumber"), col("l.l_quantity"))
    }),


    // r13 wire AGGREGATION, data-checked: the connector pushes the
    // grouped aggregate to the store (SupportsPushDownAggregates,
    // partial-only) and the wire `query` op carries it, so the SERVER
    // groups/aggregates its slice — one partial row per group per cursor
    // crosses the socket (MemWireSpec proves the volume; this gate
    // proves the VALUES through the DuckDB oracle in the driver sweep).
    // Integer sum + count + min/max only — exact under any partial
    // merge order, so the hash is deterministic.
    "s25_wire_agg" -> ((s, dir) => {
      wireLineitem(s, dir)
        .load()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber")).as("sum_ln"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_quantity")).as("max_qty"))
    }),


    // r12 StoreClient seam, data-checked: the SAME connector pushdown
    // pipeline (filters, projection, cursor TopN) served by the READ-ONLY
    // PARQUET-BACKED client instead of MemStore — the in-repo second
    // StoreClient implementation. A seam leak (any reader still calling
    // MemStore for data) would serve the wrong collection or none; the
    // oracle hash checks the rows themselves. (c_acctbal DESC, c_custkey)
    // is a unique order, so the page is deterministic in both engines.
    "s21_client_parquet" -> ((s, dir) => {
      s.read.format("graft.sources.mem.GraftMemSource")
        .option("collection", "customer")
        .option("client", "parquet").option("path", dir)
        .load()
        .where(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 100.0)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc).limit(50)
    })
  )

  val oracleSql: Map[String, String] = Map(
    // identical bit-interleave rendered by the same generator
    "q_zorder" -> {
      val z = graft.functions.Layout.zValueSql(
        "(l_orderkey % 1024)", "(l_partkey % 1024)", bits = 10)
      s"SELECT l_orderkey, l_linenumber, $z AS z FROM lineitem"
    },

    // the same JoinFuzzCase list: both sides filtered, the equi-join
    // counted/summed per case (decimal-exact sum; empty joins yield
    // count 0 + NULL aggregates in both engines)
    "q_fuzz_join" -> {
      val cases = joinFuzzCases.map { c =>
        s"""SELECT ${c.id} AS case_id,
              COUNT(*) AS n_rows,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
              MIN(o_orderkey) AS min_ok,
              MAX(l_orderkey) AS max_ok
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE (${c.oSql}) AND (${c.lSql})"""
      }.mkString("\n          UNION ALL\n")
      cases
    },

    // same seeded pairs, same filtered-subquery placement; semi/anti as
    // ANSI EXISTS/NOT EXISTS (Spark left_semi/left_anti equivalents under
    // an equi-condition: null keys never match on either engine)
    "q_fuzz_join_outer" -> {
      def filtered(c: JoinFuzzCase) =
        s"(SELECT * FROM orders WHERE ${c.oSql}) o " +
          s"%JT% (SELECT * FROM lineitem WHERE ${c.lSql}) l " +
          "ON o.o_orderkey = l.l_orderkey"
      val outers = for {
        c <- joinFuzzCases
        (jt, kw) <- Seq(("left", "LEFT JOIN"), ("right", "RIGHT JOIN"),
          ("full", "FULL JOIN"))
      } yield
        s"""SELECT ${c.id} AS case_id, '$jt' AS jt,
              COUNT(*) AS n_rows,
              COUNT(o.o_orderkey) AS n_o,
              COUNT(l.l_orderkey) AS n_l,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
              MIN(o.o_orderkey) AS min_ok,
              MAX(l.l_orderkey) AS max_lk
            FROM ${filtered(c).replace("%JT%", kw)}"""
      val exists = for {
        c <- joinFuzzCases
        (jt, neg) <- Seq(("semi", ""), ("anti", "NOT "))
      } yield
        s"""SELECT ${c.id} AS case_id, '$jt' AS jt,
              COUNT(*) AS n_rows,
              COUNT(o_orderkey) AS n_o,
              CAST(0 AS BIGINT) AS n_l,
              CAST(NULL AS DOUBLE) AS sum_price,
              MIN(o_orderkey) AS min_ok,
              CAST(NULL AS BIGINT) AS max_lk
            FROM (SELECT * FROM orders WHERE ${c.oSql}) o
            WHERE ${neg}EXISTS (SELECT 1 FROM (SELECT * FROM lineitem WHERE ${c.lSql}) l
                                WHERE o.o_orderkey = l.l_orderkey)"""
      (outers ++ exists).mkString("\n          UNION ALL\n")
    },

    // the five value grammars, each generated from the SAME case list as
    // its gate: both engines evaluate machine-identical expressions
    // (aligned where their builtin semantics differ: DOW origin,
    // interval-add types, the decimal rules in decFuzzCases' scaladoc)
    "q_fuzz_window" -> fuzzChecksumSql(
      winFuzzCases.map(c => c.id -> s"CAST(${c.valueSql} AS BIGINT)"),
      "lineitem", Some("l_orderkey")),
    "q_fuzz_numeric" -> fuzzChecksumSql(
      numFuzzCases.map(c => c.id -> c.valueSql), "lineitem", Some("l_orderkey")),
    "q_fuzz_decimal" -> fuzzChecksumSql(
      decFuzzCases.map(c => c.id -> c.valueSql), "lineitem", Some("l_orderkey")),
    "q_fuzz_strings" -> fuzzChecksumSql(
      strFuzzCases.map(c => c.id -> c.valueSql), "part", None),
    "q_fuzz_dates" -> fuzzChecksumSql(
      dateFuzzCases.map(c => c.id -> c.valueSql), "orders", Some("o_orderkey")),

    // generated from the SAME FuzzCase list as the gate
    "q_fuzz_parity" -> fuzzCondAggsSql(None),
    "q_fuzz_grouped" -> fuzzCondAggsSql(Some("l_returnflag")),

    "s21_client_parquet" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 100.0
         ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 50""",

    "s23_wire_cursor" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
         WHERE l_orderkey % 20 = 1 AND l_quantity >= 25
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag LIMIT 300""",

    "s26_wire_deflate" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
         WHERE l_orderkey % 20 = 1 AND l_returnflag <> 'N' AND l_quantity < 20
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag LIMIT 250""",

    "s27_wire_binary" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
         WHERE l_orderkey % 20 = 1 AND l_quantity BETWEEN 20 AND 35
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag LIMIT 200""",

    "s25_wire_agg" ->
      """SELECT l_returnflag, count(*) AS n,
              CAST(sum(l_linenumber) AS BIGINT) AS sum_ln,
              min(l_orderkey) AS min_ok, max(l_quantity) AS max_qty
         FROM lineitem WHERE l_orderkey % 20 = 1
         GROUP BY l_returnflag""",

    "s24_join3_pushdown" ->
      """SELECT c.c_name, c.c_mktsegment, o.o_orderkey, o.o_orderstatus,
              l.l_linenumber, l.l_quantity
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE l.l_orderkey % 8 = 0 AND l.l_quantity >= 40
           AND o.o_orderkey % 8 = 0 AND c.c_custkey % 10 = 0""",
    "s1_scan_pushdown" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
         WHERE l_quantity >= 30.0 AND l_returnflag = 'A'""",

    "p_dsl_range_sort_page" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity >= 10.0 AND l_quantity <= 15.0
         ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100 OFFSET 5""",

    "p_dsl_bool_ops" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders
         WHERE (o_orderstatus <> 'F' AND o_orderpriority IN ('1-URGENT','2-HIGH'))
            OR (o_totalprice > 400000.0 AND o_orderpriority NOT IN ('5-LOW'))""",

    "j1_join_inner" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, l_partkey,
                l_quantity,
                CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     AS DOUBLE) AS net_price
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderstatus = 'O'""",

    "s3_eventlog_offset" ->
      """SELECT user_id, event_id, CAST(FLOOR(event_id / 256) AS BIGINT) AS partition_nr,
                event_type, value
         FROM events WHERE user_id = 7 AND event_id >= 100 ORDER BY event_id""",

    "p11_mql_channel" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
         WHERE l_quantity >= 45 OR (l_returnflag IN ('A') AND l_quantity < 5)
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag LIMIT 500 OFFSET 3""",

    // the same slice, filter, sort over every column, and page in DuckDB
    "p19_channel_mem_cursor" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
         WHERE l_orderkey % 20 = 0 AND l_quantity >= 30
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag LIMIT 200 OFFSET 5""",

    // $exists ⇒ IS [NOT] NULL, $not ⇒ three-valued NOT (see the gate)
    "p17_mql_not_exists" ->
      """WITH d AS (SELECT doc_id,
                           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang_opt,
                           n_chars
                    FROM documents)
         SELECT doc_id, lang_opt, n_chars FROM d
         WHERE lang_opt IS NULL
            OR (lang_opt IS NOT NULL AND NOT (n_chars < 600))""",

    "q_sql_direct" ->
      """SELECT n_name, COUNT(*) AS n_suppliers,
                CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name""",

    "s2_scan_raw" ->
      """SELECT event_id, event_type, value FROM events
         WHERE event_type IN ('click','view') AND value > 50""",

    // identical SQL text, DuckDB table name
    "q_recursive_cte" -> recursiveClosureSql("documents"),

    "q_correlated_exists" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_quantity >= 49.0)
           AND NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey
                             AND l.l_returnflag = 'R')""",

    "p_dynamic_json" ->
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS INT) AS k,
                json_extract_string(props, '$.missing_field') AS missing_field
         FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50""",

    "p12_column" ->
      "SELECT p_name FROM part",

    "p13_as_typed" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_totalprice > 300000.0""",

    "p6_all_array" ->
      """SELECT doc_id FROM documents
         WHERE list_has_all(string_split(text, ' '), ['scan', 'column'])""",

    "p10_fk_param" ->
      """SELECT o_orderkey, l_linenumber, l_quantity
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey = 7 AND l_orderkey = 7""",

    "p15_pipe" ->
      """SELECT c_custkey, c_name,
                CAST(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(18,2)) AS DOUBLE)
                  AS boosted_bal
         FROM customer WHERE c_acctbal > 5000.0""",

    "j3_zip" -> zipNationRegionSql,

    "j4_zip_limit" ->
      """WITH l AS (SELECT n_nationkey, n_name,
                           ROW_NUMBER() OVER (ORDER BY n_nationkey) AS rn FROM nation),
              r AS (SELECT r_regionkey, r_name,
                           ROW_NUMBER() OVER (ORDER BY r_regionkey) AS rn
                    FROM (SELECT * FROM region ORDER BY r_regionkey LIMIT 3))
         SELECT n_nationkey, n_name, r_regionkey, r_name FROM l JOIN r USING (rn)""",

    "j5_tee" ->
      """SELECT s_suppkey, s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey""",

    "j6_log_zip" ->
      """WITH c AS (SELECT event_id AS click_id, user_id AS click_user,
                           ROW_NUMBER() OVER (ORDER BY event_id) AS rn
                    FROM events WHERE event_type = 'click'),
              v AS (SELECT event_id AS view_id, user_id AS view_user,
                           ROW_NUMBER() OVER (ORDER BY event_id) AS rn
                    FROM events WHERE event_type = 'view')
         SELECT click_id, click_user, view_id, view_user FROM c JOIN v USING (rn)""",

    "s6_sink_roundtrip" -> nationRegionSql,

    "src_csv_roundtrip" -> nationRegionSql,

    // the merged view the two-era read must produce: early rows carry
    // NULL for the column their files never had
    "src_schema_evolution" ->
      """SELECT doc_id, n_chars,
                CASE WHEN doc_id < 250 THEN NULL ELSE lang END AS lang
         FROM documents""",

    // wholetext round-trip: the staged files ARE the documents slice
    "src_text_roundtrip" ->
      """SELECT doc_id, text FROM documents WHERE doc_id < 25""",

    "src_json_roundtrip" -> nationRegionSql,

    "src_orc_roundtrip" -> nationRegionSql,

    "q_window_range" ->
      """SELECT user_id, event_id,
                CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS sum_cents_1h
         FROM events""",

    "t_stateful_running" -> runningCentsOracleSql,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",

    "q_lateral_topn" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM customer c, LATERAL (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
         ) o
         WHERE c.c_acctbal > 9000""",

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""",

    "j2_zipwith" -> zipNationRegionSql,

    "u1_either" ->
      """SELECT 'left' AS side, c_name AS name FROM customer
         UNION ALL
         SELECT 'right' AS side, s_name AS name FROM supplier""",

    "u2_concat" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity <= 2.0
         UNION ALL
         SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 49.0""",

    "q3_shipping" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
         ORDER BY revenue DESC, o_orderkey ASC LIMIT 20""",

    "q_analyze_stats" ->
      """SELECT COUNT(*) AS n_rows,
                CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS nulls_orderkey,
                COUNT(DISTINCT l_orderkey) AS ndv_orderkey,
                MIN(l_orderkey) AS min_orderkey,
                MAX(l_orderkey) AS max_orderkey,
                COUNT(DISTINCT l_partkey) AS ndv_partkey,
                MIN(l_partkey) AS min_partkey,
                MAX(l_partkey) AS max_partkey,
                COUNT(DISTINCT l_returnflag) AS ndv_returnflag,
                MIN(l_returnflag) AS min_returnflag,
                MAX(l_returnflag) AS max_returnflag,
                COUNT(DISTINCT CAST(l_quantity AS DECIMAL(18,2)))
                  AS ndv_quantity,
                CAST(CAST(MIN(l_quantity) AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS min_qty_cents,
                CAST(CAST(MAX(l_quantity) AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS max_qty_cents
         FROM lineitem""",

    // the same recurrence unrolled as chained CTEs (DuckDB restricts
    // aggregation over a recursive reference): r_k from r_{k-1} via the
    // identical integer-div update; // truncates toward zero (verified:
    // -7 // 2 = -3) but ranks are non-negative so trunc == floor here
    "q_pagerank" -> {
      val iters = 4
      val base =
        """WITH e AS (
             SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
                    'p' || CAST(l_partkey AS VARCHAR) AS dst
             FROM lineitem
             UNION ALL
             SELECT 'p' || CAST(l_partkey AS VARCHAR),
                    'o' || CAST(l_orderkey AS VARCHAR)
             FROM lineitem),
           nodes AS (SELECT DISTINCT src AS node FROM e
                     UNION SELECT DISTINCT dst FROM e),
           deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
           r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
      val steps = (1 to iters).map { k =>
        s"""s$k AS (SELECT e.dst AS node, SUM(r.pr // d.outdeg) AS s
                    FROM e JOIN r${k - 1} r ON e.src = r.node
                           JOIN deg d ON e.src = d.src
                    GROUP BY e.dst),
            r$k AS (SELECT n.node,
                           CAST(150000 + (850 * COALESCE(s.s, 0)) // 1000
                                AS BIGINT) AS pr
                    FROM nodes n LEFT JOIN s$k s ON n.node = s.node)"""
      }.mkString(",\n           ")
      s"""$base,
           $steps
         SELECT node, pr FROM r$iters"""
    },

    "q5_local_supplier" ->
      """SELECT n_name,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
                       JOIN supplier ON l_suppkey = s_suppkey
                                    AND c_nationkey = s_nationkey
                       JOIN nation ON s_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC""",

    "q10_returned" ->
      """SELECT c_custkey, c_name, n_name,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
                       JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",

    // differential invariant oracles (see the queries entries): the exact
    // parts hash-verify; the estimator/implementation contracts are
    // constant booleans that flip on drift
    "q_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
                count(DISTINCT l_orderkey) AS exact_orders,
                true AS parts_within_tol, true AS orders_within_tol
         FROM lineitem""",

    "q_range_join" -> rangeJoinOracleSql,

    "src_warc_ingest" -> warcOracleSql,

    // the gzipped layout is storage-only: rows must equal the plain
    // member gate's exactly
    "src_warc_gz" -> warcOracleSql,

    // binaryFile ingestion of the staged id range — same closed form
    "src_binaryfile_media" ->
      """SELECT doc_id,
                CAST(8 + doc_id % 13 AS INT) AS width,
                CAST(8 + doc_id % 7 AS INT) AS height,
                CAST((8 + doc_id % 13) * (8 + doc_id % 7) AS BIGINT) AS n_pixels,
                CAST(doc_id % 256 AS DOUBLE) AS mean_red
         FROM documents WHERE doc_id < 100""",

    "q_time_window" -> hourWindowOracleSql,

    // the right side is pre-deduped per (user_id, ts) to max(event_id):
    // DuckDB's ASOF JOIN leaves the pick among equal-timestamp matches
    // unspecified, while the Spark operator's rightTieBreak
    // deterministically takes the max purchase_id — identical today
    // (testdata has no tied purchase timestamps) but this removes the
    // latent flaky-gate risk at any future SF (r14 advice #4)
    "q_asof_join" ->
      """SELECT c.event_id AS click_id, c.user_id,
                p.event_id AS purchase_id,
                epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         ASOF JOIN (SELECT user_id, ts, MAX(event_id) AS event_id
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id, ts) p
           ON c.user_id = p.user_id AND c.ts >= p.ts""",

    "q_asof_forward" ->
      """SELECT c.event_id AS click_id, c.user_id,
                p.event_id AS purchase_id,
                epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         ASOF JOIN (SELECT user_id, ts, MAX(event_id) AS event_id
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id, ts) p
           ON c.user_id = p.user_id AND c.ts <= p.ts""",

    "q_asof_left" ->
      """SELECT c.event_id AS click_id, c.user_id,
                p.event_id AS purchase_id,
                epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id, ts, MAX(event_id) AS event_id
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY user_id, ts) p
           ON c.user_id = p.user_id AND c.ts >= p.ts""",

    "q_session_window" -> sessionWindowOracleSql,

    "q_window_rank" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
           SELECT l_orderkey, l_linenumber, l_extendedprice,
                  ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                     ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
           FROM lineitem) WHERE rn <= 2""",

    // unique total order => rank == row_number; pr/cd are exact int ratios
    "q_window_dist" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                percent_rank() OVER w AS pr,
                cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey ASC)""",

    // binning + first-shared-bin dedup are result-invariant: plain
    // overlap predicate
    "q_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND epoch_us(c.ts) <= epoch_us(p.ts) + 900000000
          AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000""",

    // latest-wins per key by (ts DESC, event_id DESC), deletes absent —
    // the row_number form is equivalent to the gate's max(struct) because
    // (ts, event_id) is unique per key
    "s29_changelog_apply" ->
      """WITH log AS (SELECT event_id, user_id, ts, event_type, value,
                             CASE WHEN event_type = 'error' THEN 'delete'
                                  ELSE 'upsert' END AS op
                      FROM events),
              r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
                    FROM log)
         SELECT user_id, event_id, op, event_type, value
         FROM r WHERE rn = 1 AND op <> 'delete'""",

    // same FLOOR-division buckets (DuckDB `//` truncates toward zero —
    // verified -7 // 2 = -3 — so the pmod-adjust mirrors the operator's
    // negative-ts semantics; identical on the non-negative testdata),
    // same latest-in-bucket (row_number over (us, event_id) desc), same
    // per-key grid, same IGNORE NULLS carry
    "s33_resample_locf" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
                    FROM events),
              r AS (SELECT user_id,
                           (us - ((us % 3600000000 + 3600000000) % 3600000000))
                             // 3600000000 AS bucket, value,
                           row_number() OVER (
                             PARTITION BY user_id,
                               (us - ((us % 3600000000 + 3600000000) % 3600000000))
                                 // 3600000000
                             ORDER BY us DESC, event_id DESC) AS rn
                    FROM e),
              b AS (SELECT user_id, bucket, COUNT(*) AS n_events
                    FROM r GROUP BY 1, 2),
              l AS (SELECT user_id, bucket, value AS v_last
                    FROM r WHERE rn = 1),
              g0 AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
                     FROM b GROUP BY 1),
              grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket
                       FROM g0),
              j AS (SELECT g.user_id, g.bucket,
                           COALESCE(b.n_events, 0) AS n_events, l.v_last
                    FROM grid g
                    LEFT JOIN b USING (user_id, bucket)
                    LEFT JOIN l USING (user_id, bucket))
         SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
                CAST(n_events AS BIGINT) AS n_events,
                last_value(v_last IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS value_locf
         FROM j""",

    // s29's latest-wins fold restricted to the log prefix <= the AS OF
    // bound — time travel: later deletes have not happened yet
    "s31_snapshot_asof" ->
      """WITH log AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                             event_type, value,
                             CASE WHEN event_type = 'error' THEN 'delete'
                                  ELSE 'upsert' END AS op
                      FROM events
                      WHERE epoch_us(ts) <= 1705276800000000),
              r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts_us DESC, event_id DESC) AS rn
                    FROM log)
         SELECT user_id, event_id, op, event_type, value
         FROM r WHERE rn = 1 AND op <> 'delete'""",

    "q_window_lag" ->
      """SELECT user_id, event_id,
                lag(value) OVER w AS prev_value,
                lead(value) OVER w AS next_value,
                value - lag(value) OVER w AS delta,
                first_value(event_type) OVER w AS first_type
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",

    "q_array_funcs" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id,
                CAST(len(list_filter(w, x -> length(x) > 4)) AS INT) AS n_long_tokens,
                CAST(list_max(list_transform(w, x -> length(x))) AS INT) AS max_token_len,
                CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS total_token_chars,
                CAST(len(list_distinct(w)) AS INT) AS n_distinct_tokens,
                list_sort(list_distinct(w))[1] AS first_token_sorted
         FROM s""",

    "q_window_running" ->
      """SELECT user_id, event_id, value,
                CAST(SUM(CAST(value AS DECIMAL(18,2)))
                     OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  AS running_value
         FROM events""",

    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",

    "j_salted_skew" ->
      """SELECT l_orderkey, l_linenumber, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 400000.0""",

    // the Bloom sketch is result-invariant: plain EXISTS semantics
    "j_bloom_semi" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_totalprice > 400000.0)""",

    "j_bloom_anti" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_orderkey = l_orderkey
                             AND o_totalprice > 400000.0)""",

    // bucketing is a layout property, result-invariant: plain join SQL
    "j_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority""",

    // partitioned layout is result-invariant: plain filter SQL
    "src_partitioned_scan" ->
      """SELECT event_id, user_id, value, event_type FROM events
         WHERE event_type = 'click'""",

    "q_join_left" ->
      """SELECT p_partkey, l_orderkey, l_quantity FROM part
         LEFT JOIN lineitem ON p_partkey = l_partkey AND l_quantity >= 49.0""",

    "q_join_full" ->
      """SELECT p_partkey, l_orderkey, l_quantity FROM part
         FULL JOIN (SELECT * FROM lineitem WHERE l_quantity >= 49.0) l
           ON p_partkey = l_partkey""",

    "q_sliding_window" -> slidingWindowOracleSql,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""",

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q_intersect" ->
      """SELECT l_partkey FROM lineitem WHERE l_quantity >= 49.0
         INTERSECT
         SELECT l_partkey FROM lineitem WHERE l_quantity <= 2.0""",

    "q_intersect_all" ->
      """SELECT l_partkey FROM lineitem WHERE l_quantity >= 49.0
         INTERSECT ALL
         SELECT l_partkey FROM lineitem WHERE l_quantity <= 2.0""",

    "q_except_all" ->
      """SELECT l_partkey FROM lineitem
         EXCEPT ALL
         SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'""",

    "q_except" ->
      """SELECT l_partkey FROM lineitem WHERE l_quantity >= 49.0
         EXCEPT
         SELECT l_partkey FROM lineitem WHERE l_quantity <= 2.0""",

    "q_scalar_funcs" ->
      """SELECT o_orderkey,
                upper(o_orderpriority) AS prio_upper,
                substr(o_orderpriority, 1, 1) AS prio_code,
                length(o_orderstatus) AS status_len,
                concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
                CAST(year(o_orderdate) AS INT) AS order_year,
                CAST(month(o_orderdate) AS INT) AS order_month,
                CAST(day(o_orderdate) AS INT) AS order_day,
                CAST(CAST(o_totalprice AS DECIMAL(18,2)) - CAST(100000.0 AS DECIMAL(18,2)) AS DOUBLE) AS delta,
                abs(CAST(CAST(o_totalprice AS DECIMAL(18,2)) - CAST(100000.0 AS DECIMAL(18,2)) AS DOUBLE)) AS abs_delta,
                greatest(o_custkey, o_orderkey) AS max_key
         FROM orders WHERE o_orderkey <= 1000""",

    "q_pivot" ->
      """SELECT l_returnflag,
                COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
                COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_o
         FROM lineitem GROUP BY l_returnflag""",

    "q_unpivot" ->
      """WITH src AS (SELECT l_orderkey, l_linenumber, l_quantity,
                             l_extendedprice, l_discount, l_tax
                      FROM lineitem WHERE l_orderkey < 1000)
         UNPIVOT src ON l_quantity, l_extendedprice, l_discount, l_tax
         INTO NAME metric VALUE value""",

    "q_collect_list" ->
      """SELECT user_id,
                array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
                COUNT(*) AS n_events
         FROM events GROUP BY user_id""",

    "q_percentile" ->
      """SELECT l_returnflag,
                quantile_cont(l_quantity, 0.25) AS p25,
                quantile_cont(l_quantity, 0.5) AS p50,
                quantile_cont(l_quantity, 0.75) AS p75
         FROM lineitem GROUP BY l_returnflag""",

    // sketch rank-contract booleans are constants; the exact interpolated
    // percentiles hash-verify (same quantile_cont parity as q_percentile)
    "q_approx_percentile" ->
      """SELECT quantile_cont(l_quantity, 0.5) AS exact_p50,
                quantile_cont(l_quantity, 0.9) AS exact_p90,
                true AS p50_rank_ok, true AS p90_rank_ok
         FROM lineitem""",

    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice >= 0.9 * (SELECT MAX(o_totalprice) FROM orders)""",

    "q_distinct_agg" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
                COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",

    // items are unique per token row, so exact distinct = token count; the
    // sketch invariants are deterministic constants (see the gate comment)
    "q_hll_distinct" ->
      """SELECT lang, COUNT(*) AS n_exact, true AS est_ok, true AS merge_ok
         FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
         GROUP BY lang""",

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS sum_disc_price,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""
  )
}
