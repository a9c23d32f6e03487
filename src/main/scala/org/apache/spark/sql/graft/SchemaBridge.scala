package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType

/** Spark's schema-merge rules (`StructType.merge`, the union parquet's
  * `mergeSchema` inference applies across file footers) and
  * `asNullable` are private[sql]/private[spark]; the bridge lets a
  * table format evolve a recorded schema by the same rules — same
  * pattern as [[ColumnBridge]]. */
object SchemaBridge {
  /** `left`'s fields in order, then `right`'s new ones; a field in
    * both must have mergeable types, else Spark's
    * CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE error. */
  def merge(left: StructType, right: StructType,
      caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)

  def asNullable(s: StructType): StructType = s.asNullable
}
