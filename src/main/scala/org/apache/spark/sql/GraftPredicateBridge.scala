package org.apache.spark.sql

import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.sources.Filter

/** Bridge into `private[sql]` surface (the [[GraftColumnBridge]]
  * precedent): V2 Predicate → V1 Filter conversion for connectors whose
  * store-side evaluator speaks V1 — Spark's own translation, used for the
  * conjuncts of a pushed join condition, which arrive as V2 predicates. */
object GraftPredicateBridge {
  def toV1(p: Predicate): Option[Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)
}
