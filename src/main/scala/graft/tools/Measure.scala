package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.mem.WireJson

/** What the measuring tools share: one number format, one pin-file
  * reader, one gate-name selection, one min-of-3 timed pass and one
  * warm-up. Each tool keeps its own file layout and flag policy. */
object Measure {
  type Gate = (SparkSession, String) => DataFrame

  /** Fixed-point, locale-independent: the f-interpolator and
    * String.format use the JVM locale, and a comma-decimal locale would
    * write invalid JSON (ADVICE r4 #3). */
  def num(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** A pinned JSON file's top-level object; empty when there is no file
    * yet (a bootstrap). A malformed file fails loudly, not as no pin. */
  def readPin(file: java.io.File): Map[String, Any] =
    if (!file.isFile) Map.empty
    else obj(WireJson.parse(java.nio.file.Files.readString(file.toPath)))

  def obj(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case other => throw new IllegalArgumentException(s"not a JSON object: $other")
  }

  /** A JSON number ([[WireJson]] reads an integral one as a Long). */
  object Num {
    def unapply(v: Any): Option[Double] = v match {
      case d: Double => Some(d)
      case l: Long => Some(l.toDouble)
      case _ => None
    }
  }

  /** The gates a comma list names: trimmed, empties dropped, each once in
    * list order. A name `known` rejects, or a list naming nothing, fails
    * loudly: a typo would otherwise select nothing, and the tool would
    * time nothing and still exit 0. */
  def gateNames(list: String, known: String => Boolean): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    require(names.nonEmpty, s"no gate named in '$list'")
    val unknown = names.filterNot(known)
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(", ")}")
    names
  }

  /** Wall seconds of the best of three back-to-back passes, `after`
    * running untimed after each: a contention spike has to span all three
    * to reach the number (round-7 verdict #1). A pass returning false
    * failed and stays out of the min (ADVICE r8 #2); a failed first pass
    * is not re-timed and gives None. A pass that throws propagates. */
  def bestOf3(pass: => Boolean, after: => Unit = ()): Option[Double] = {
    def once(): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = pass
      val dt = (System.nanoTime() - t0) / 1e9
      after
      if (ok) Some(dt) else None
    }
    once().map(first => (first +: List.fill(2)(once()).flatten).min)
  }

  /** The smallest scale factor when present, else `fallback`. */
  def warmDir(fallback: String): String =
    Some("/root/testdata/sf0.001").filter(new java.io.File(_).isDirectory).getOrElse(fallback)

  /** Run every gate once on `dir` so codegen and the JIT are warm per
    * query shape before anything is timed (first-call compilation was
    * the dominant source of ±20% run-to-run variance). Failures are
    * logged; cached blocks are dropped after each gate. */
  def warmUp(spark: SparkSession, tag: String, gates: Seq[(String, Gate)],
      dir: String): Unit =
    gates.foreach { case (name, fn) =>
      try { fn(spark, dir).count(); () }
      catch { case e: Throwable =>
        System.err.println(s"[$tag] warm-up of $name failed: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
}
