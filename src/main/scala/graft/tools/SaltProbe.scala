package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Joins

/** Calibration harness for [[Joins.innerAutoSalted]]'s share threshold
  * (r11 verdict #8): measures the CROSSOVER — the max-single-key share at
  * which the salted join starts beating the plain shuffled join — on a
  * deterministic staged corpus, with AQE (incl. its skew-join rule) in its
  * default-on state and broadcast disabled (the regime auto-salting
  * targets: a fact⋈dim too big to broadcast).
  *
  * For each hot-key share s in the sweep, the big side routes s of its
  * rows to ONE key and the rest uniformly over a 20k key space; both
  * variants count the identical join result, min-of-3. The measured
  * numbers go to PLANS.md and the measured crossover becomes
  * innerAutoSalted's default threshold; ScaleSpec pins the behavior just
  * below/above it.
  *
  * usage: runMain graft.tools.SaltProbe [rows] [salts]
  */
object SaltProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 4000000L
    val salts = if (args.length > 1) args(1).toInt else 8
    val spark = graft.SparkEntry.localSession(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the auto-salt regime: dim too big to broadcast, AQE defaults
    // (skew-join ON — the baseline the salted path must beat)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val keySpace = 20000L
    val dim = spark.range(keySpace).select(col("id").as("dk"),
      concat(lit("dim_"), col("id")).as("dv")).cache()
    dim.count()

    def time(body: => Unit): Double = Measure.bestOf3 { body; true }.get

    /** total shuffle records written across the stages `body` triggers */
    def shuffleRecords(body: => Unit): Long =
      graft.profile.Profile.during(spark)(body)._2.shuffleRecords

    println(s"# SaltProbe rows=$n salts=$salts " +
      s"cpus=${spark.sparkContext.defaultParallelism} keySpace=$keySpace")
    println("share plain_sec salted_sec speedup plain_shuf salted_shuf probe_share")
    Seq(0.0, 0.05, 0.1, 0.2, 0.3, 0.5, 0.7).foreach { share =>
      val hotThreshold = (share * 1000).toInt
      val big = spark.range(n).select(
        when(pmod(col("id"), lit(1000)) < hotThreshold, lit(-1L))
          .otherwise(pmod(xxhash64(col("id")), lit(keySpace))).as("k"),
        col("id").as("payload"))
        .cache()
      // -1 never matches the dim: route the hot key to a REAL dim key so
      // the join output reflects the skew too
      val bigReal = big.withColumn("k",
        when(col("k") === -1L, lit(7L)).otherwise(col("k")))
      bigReal.count()
      val expected = bigReal.join(dim, col("k") === col("dk")).count()
      val plainSec = time {
        assert(bigReal.join(dim, col("k") === col("dk")).count() == expected)
      }
      val saltedSec = time {
        assert(Joins.saltedInner(bigReal, "k", dim, "dk", salts).count() == expected)
      }
      val plainShuf = shuffleRecords {
        bigReal.join(dim, col("k") === col("dk")).count(); ()
      }
      val saltedShuf = shuffleRecords {
        Joins.saltedInner(bigReal, "k", dim, "dk", salts).count(); ()
      }
      val (probeShare, _) = Joins.sampledMaxKeyShare(bigReal, "k", 0.02, 42L)
      println(f"$share%.2f $plainSec%.3f $saltedSec%.3f ${plainSec / saltedSec}%.2fx " +
        f"$plainShuf $saltedShuf $probeShare%.3f")
      big.unpersist()
    }
    spark.stop()
  }
}
