package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes
import org.apache.spark.sql.types.{AbstractDataType, DataType, TypeCollection}

/** Spark's own input-type check (`ExpectsInputTypes`: a wrong child type
  * fails analysis, nothing is cast) for expressions outside Spark's
  * packages, where `AbstractDataType` and `TypeCollection` are
  * private[sql]: `acceptedTypes` gives, per child, the concrete types it
  * accepts (nullability of array elements is ignored, as Spark does). */
trait GraftInputTypes extends ExpectsInputTypes {
  protected def acceptedTypes: Seq[Seq[DataType]]

  final override def inputTypes: Seq[AbstractDataType] =
    acceptedTypes.map(ts => TypeCollection(ts: _*))
}
