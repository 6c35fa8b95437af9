package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** Brute-vs-index CROSSOVER measurement (r15 verdict #2c): at what corpus
  * size does the recall-contract IVF config (nlist=64, nprobe=48 —
  * recall@10 = 0.974 on the adversarial isotropic sf1 corpus, pinned in
  * RECALL_sf1.json) become cheaper than brute force?
  *
  * Method: for each corpus size (2k = sf0.1, 20k = sf1-staged, 100k =
  * factor-50 staged via [[GenScale.stageEmbeddings]] — all the same
  * bit-reproducible isotropic construction), build the IVF index once
  * (build time reported separately — it's the amortized CREATE INDEX
  * cost), then time brute top-k and the probe min-of-3 over the same
  * 50-query set, and measure the probe's recall against brute at THAT
  * size. Writes ANN_CROSSOVER.json.
  *
  * Reading the numbers at 100 TB: brute cost per query grows with n
  * (full corpus scan); the nprobe=48/64 probe scans a ~75% expected
  * fraction of rows plus fixed probe-ranking overhead, so its advantage
  * here is bounded (~1.3×) BY GEOMETRY — on isotropic vectors high
  * recall needs most cells probed. Production embedding corpora are
  * CLUSTERED, where the same recall needs far fewer cells; this probe
  * pins the adversarial floor, not the production ceiling.
  *
  * usage: runMain graft.tools.AnnCrossover [nQueries] [k]
  */
object AnnCrossover {
  private def num(v: Double): String = Measure.num(v, 4)

  def main(args: Array[String]): Unit = {
    val nQ = if (args.length > 0) args(0).toInt else 50
    val k = if (args.length > 1) args(1).toInt else 10
    val spark = graft.SparkEntry.localSession(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // (label, dir, stageFactor): factor 0 = expect the dir to exist.
    // Staged dirs are CROSSOVER-OWNED embeddings-only dirs (ADVICE r16
    // #3): staging into the shared /tmp/graft_sf1 left a partial
    // (embeddings-only) corpus that SpotBench and the sf1 sweep would
    // later read as a full sf1 dir. stageEmbeddings is a pure function
    // of (vec_id, position), so n20k here is bit-identical to the sf1
    // dir's embeddings table — the measurement is unchanged.
    val sizes = Seq(
      ("n2k", "/root/testdata/sf0.1", 0),
      ("n20k", "/tmp/graft_emb20k", 10),
      ("n100k", "/tmp/graft_emb100k", 50))

    def timedMin3(fn: => DataFrame): Double = Measure.bestOf3 { fn.count(); true }.get

    val rows = sizes.map { case (label, dir, factor) =>
      if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
        require(factor > 0, s"$dir missing and not stageable")
        new java.io.File(dir).mkdirs()
        GenScale.stageEmbeddings(spark, "/root/testdata/sf0.1", dir, factor)
      }
      val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
      val n = emb.count()
      val queries = emb.where(col("vec_id") < nQ)

      val tb0 = System.nanoTime()
      val idx = Similarity.ivfBuild(emb, "vec_id", "embedding", nlist = 64)
      idx.assigned.count()
      val buildSec = (System.nanoTime() - tb0) / 1e9

      val bruteSec = timedMin3(
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k))
      val probeSec = timedMin3(
        Similarity.ivfProbe(idx, queries, "vec_id", "embedding", k, nprobe = 48))

      // recall of the probe vs brute AT THIS SIZE
      val truth = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k).select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfProbe(idx, queries, "vec_id", "embedding",
        k, nprobe = 48).select(col("query_id"), col("neighbor_id"))
      val hits = truth.join(approx, Seq("query_id", "neighbor_id")).count()
      val recall = hits.toDouble / (nQ.toLong * k)

      idx.unpersist(); emb.unpersist()
      System.err.println(f"[crossover] $label n=$n brute=$bruteSec%.2fs " +
        f"ivf_p48=$probeSec%.2fs (build $buildSec%.2fs) recall=$recall%.4f")
      s""""$label":{"n":$n,"brute_sec":${num(bruteSec)},""" +
        s""""ivf_p48_sec":${num(probeSec)},"build_sec":${num(buildSec)},""" +
        s""""recall":${num(recall)},""" +
        s""""speedup":${num(bruteSec / probeSec)}}"""
    }

    val json = s"""{"metric":"ann_crossover","config":"ivf n64 p48",""" +
      s""""n_queries":$nQ,"k":$k,"sizes":{${rows.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("ANN_CROSSOVER.json"), json)
    println(json)
    spark.stop()
  }
}
