package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stages an sf1-equivalent testdata dir for the spot-bench (r11 verdict
  * #6): scale cliffs (candidate blowups, state-store growth) are invisible
  * at sf0.1, so the heaviest gates get measured at 10× the rows.
  *
  * Only the tables the pinned spot gates read are produced:
  *  - `documents` / `embeddings` are generated FRESH from the source
  *    tables' measured distributions (empirical word frequencies over the
  *    same vocabulary, word-count range, language shares, 20 sources;
  *    unit-norm 64-dim embeddings, 10 labels) — replicating rows would
  *    plant 10-way exact-duplicate clusters and turn every dedup gate's
  *    pair space quadratic in the copy count, measuring an artifact.
  *  - `events` is 10 shifted copies (disjoint event_id ranges, +31 days
  *    per copy) — the append-only log shape where replication IS how the
  *    table grows, and aggregation/stream-join gates see realistic 10×
  *    key densities and a 10× event-time span.
  * Everything is a pure function of (doc_id/vec_id, position) through
  * md5, so the staged dir is bit-reproducible.
  *
  * usage: runMain graft.tools.GenScale [srcDir] [outDir] [factor]
  */
object GenScale {
  /** content-keyed uniform in (0,1) — same construction as the sampling
    * operators (Corpus.hashBucket's md5 discipline) */
  private def u(cols: Column*): Column =
    (conv(substring(md5(concat_ws("#", cols: _*).cast("binary")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)

  /** write as a single `<dir>/<name>.parquet` FILE, matching the testdata
    * layout every gate (and the streaming pathGlobFilter reads) expects */
  private def writeSingle(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    graft.gates.GateSupport.deleteRecursively(Paths.get(tmp))
  }

  /** The embeddings table at `factor`× the source's rows — fresh
    * unit-norm draws (a pure function of (vec_id, position) through md5,
    * bit-reproducible), shared by the sf1 staging and the ANN crossover
    * probe's larger corpora. Returns (rows, dim). */
  def stageEmbeddings(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): (Long, Int) = {
    val srcEmb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val nEmb = srcEmb.count() * factor
    val dim = srcEmb.select(size(col("embedding"))).head().getInt(0)
    val emb = spark.range(nEmb).select(col("id").as("vec_id"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(dim - 1))).as("d"))
      .withColumn("v", u(lit("e"), col("vec_id"), col("d")) - lit(0.5))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("v")))),
        e => e.getField("v")).as("raw"))
      .withColumn("nrm",
        sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
        floor(u(lit("l"), col("vec_id")) * 10).cast("int").as("label"))
    writeSingle(emb, outDir, "embeddings")
    (nEmb, dim)
  }

  /** Re-stage `dir` from the canonical sf0.1 testdata when the `probe`
    * table is missing (r18 verdict #6: the decade instruments' inputs
    * live in tmpfs — one reboot from gone; the round-close tooling
    * re-stages on miss instead of assuming presence). The factor is
    * inferred from the conventional dir name: graft_sfN = N·10 × sf0.1.
    * No-op when the probe table exists; loud error for a missing dir
    * whose name carries no factor. */
  def ensureStaged(spark: SparkSession, dir: String,
      probe: String = "documents"): Unit = {
    if (!new java.io.File(s"$dir/$probe.parquet").exists()) {
      val factor = """graft_sf(\d+)$""".r.findFirstMatchIn(dir)
        .map(_.group(1).toInt * 10)
        .getOrElse(sys.error(
          s"$dir is missing and not a graft_sfN dir — cannot infer the " +
            "GenScale staging factor"))
      System.err.println(s"[genscale] $dir missing — staging at factor $factor")
      stage(spark, "/root/testdata/sf0.1", dir, factor, _ => true)
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: which table groups to stage (comma list of
    // documents,embeddings,star,events; default all) — the ANN crossover
    // probe needs a 100k-vector embeddings table and nothing else, and
    // staging 100× documents/star alongside would take hours for nothing
    val want: String => Boolean = {
      val sel = if (args.length > 3) args(3).split(",").map(_.trim).toSet
        else Set("documents", "embeddings", "star", "events")
      sel.contains
    }
    val spark = graft.SparkEntry.localSession(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    stage(spark, srcDir, outDir, factor, want)
    spark.stop()
  }

  /** The staging body, callable from a live session ([[ensureStaged]];
    * main wraps it with its own session). */
  def stage(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int, want: String => Boolean): Unit = {
    new java.io.File(outDir).mkdirs()

    // ---- documents: fresh draws from the measured distribution ----
    if (want("documents")) {
    val srcDocs = spark.read.parquet(s"$srcDir/documents.parquet")
    val nDocs = srcDocs.count() * factor
    val vocabRows = srcDocs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").count().orderBy("w").collect()
    val totalW = vocabRows.map(_.getLong(1)).sum.toDouble
    val vocabCum: Array[(String, Double)] = {
      var acc = 0.0
      vocabRows.map { r => acc += r.getLong(1) / totalW; (r.getString(0), acc) }
    }
    def pickByCum(uc: Column, table: Array[(String, Double)]): Column =
      table.init.foldRight(lit(table.last._1): Column) { case ((w, c), acc) =>
        when(uc < c, lit(w)).otherwise(acc)
      }
    val langRows = srcDocs.groupBy("lang").count().orderBy("lang").collect()
    val totalL = langRows.map(_.getLong(1)).sum.toDouble
    val langCum: Array[(String, Double)] = {
      var acc = 0.0
      langRows.map { r => acc += r.getLong(1) / totalL; (r.getString(0), acc) }
    }
    val (minW, maxW) = {
      val r = srcDocs.select(
        min(size(split(col("text"), " "))), max(size(split(col("text"), " ")))).head()
      (r.getInt(0), r.getInt(1))
    }
    // HEAPS-LAW vocabulary growth (r12 verdict #5): reusing the measured
    // vocabulary verbatim at any factor makes every shingle's document
    // frequency — and thus every dedup pair set — grow quadratically BY
    // CONSTRUCTION, masking real operator scaling. Real corpora grow
    // their type inventory as V(n) ≈ K·n^β (Heaps' law, β ≈ 0.5), so the
    // token stream here is a mixture: measured head words at their
    // empirical distribution, plus V0·(√factor − 1) scale-indexed
    // synthetic tail types. Tail mass is sized so each tail type lands at
    // ≈ the source's mean per-word frequency (tailMass = nTail/(V0·f)):
    // head-word df still grows ~linearly (genuinely common words do), but
    // the SHINGLE space now grows with the vocabulary, so shingle df —
    // the dedup candidate driver — stays in a natural band instead of
    // scaling with the corpus.
    val v0 = vocabCum.length
    val tailTypes = math.max(0,
      math.round(v0 * (math.sqrt(factor.toDouble) - 1.0)).toInt)
    val tailMass =
      if (tailTypes == 0) 0.0 else tailTypes.toDouble / (v0.toDouble * factor)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("nw", (lit(minW) +
        floor(u(lit("nw"), col("doc_id")) * (maxW - minW + 1))).cast("int"))
      .select(col("doc_id"), col("nw"),
        explode(sequence(lit(0), col("nw") - 1)).as("pos"))
      .withColumn("uw", u(lit("w"), col("doc_id"), col("pos")))
      .withColumn("w",
        if (tailTypes == 0) pickByCum(col("uw"), vocabCum)
        else when(col("uw") < lit(tailMass),
            concat(lit("heaps"), floor(
              u(lit("tw"), col("doc_id"), col("pos")) * tailTypes).cast("long")))
          .otherwise(pickByCum(
            (col("uw") - lit(tailMass)) / lit(1.0 - tailMass), vocabCum)))
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        e => e.getField("w")), " ").as("text"))
      .withColumn("lang", pickByCum(u(lit("lang"), col("doc_id")), langCum))
      .withColumn("source",
        concat(lit("src"), pmod(xxhash64(col("doc_id")), lit(20))))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    writeSingle(docs, outDir, "documents")
    println(s"[genscale] documents: $nDocs (vocab: $v0 head + $tailTypes " +
      f"heaps tail types, tail mass $tailMass%.3f)")
    }

    // ---- embeddings: fresh unit-norm vectors, measured label count ----
    if (want("embeddings")) {
      val (nEmb, dim) = stageEmbeddings(spark, srcDir, outDir, factor)
      println(s"[genscale] embeddings: $nEmb x $dim")
    }

    // ---- TPC-H star tables (r14 verdict #1): shifted-key replicas ----
    // The star schema grows the way TPC-H itself scales: more customers,
    // orders, parts, suppliers at the SAME selectivities and join
    // fan-outs. Each copy shifts every PK/FK by a per-table stride
    // (max key + 1), so keys stay unique, referential integrity holds
    // WITHIN each copy, and the join graph becomes `factor` disjoint
    // internally-consistent replicas — 10× key density for every
    // join/agg/window gate with no artificial skew or duplicate keys.
    // Dimension roots (region, nation) are fixed-size in TPC-H at every
    // sf and are copied as-is.
    if (want("star")) {
    def copies(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until factor).map { i =>
        shifts.foldLeft(df) { case (d, (c, stride)) =>
          d.withColumn(c, col(c) + lit(i * stride)) }
      }.reduce(_ unionByName _)
    def maxKey(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1
    val cust = spark.read.parquet(s"$srcDir/customer.parquet")
    val supp = spark.read.parquet(s"$srcDir/supplier.parquet")
    val part = spark.read.parquet(s"$srcDir/part.parquet")
    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val (custS, suppS, partS, ordS) = (maxKey(cust, "c_custkey"),
      maxKey(supp, "s_suppkey"), maxKey(part, "p_partkey"),
      maxKey(ord, "o_orderkey"))
    Seq("region", "nation").foreach { t =>
      writeSingle(spark.read.parquet(s"$srcDir/$t.parquet"), outDir, t)
    }
    writeSingle(copies(cust, Map("c_custkey" -> custS)), outDir, "customer")
    writeSingle(copies(supp, Map("s_suppkey" -> suppS)), outDir, "supplier")
    writeSingle(copies(part, Map("p_partkey" -> partS)), outDir, "part")
    writeSingle(copies(ord,
      Map("o_orderkey" -> ordS, "o_custkey" -> custS)), outDir, "orders")
    writeSingle(copies(li,
      Map("l_orderkey" -> ordS, "l_partkey" -> partS,
        "l_suppkey" -> suppS)), outDir, "lineitem")
    println(s"[genscale] tpc-h star: customer ${cust.count() * factor}, " +
      s"orders ${ord.count() * factor}, lineitem ${li.count() * factor}")
    }

    // ---- events: shifted append copies ----
    if (want("events")) {
    val srcEv = spark.read.parquet(s"$srcDir/events.parquet")
    val nEv = srcEv.count()
    val ev = (0 until factor).map { i =>
      srcEv.select(
        (col("event_id") + lit(i * nEv)).as("event_id"),
        (col("ts") + expr(s"INTERVAL ${i * 31} DAYS")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
    writeSingle(ev, outDir, "events")
    println(s"[genscale] events: ${nEv * factor}")
    }
  }
}
