package org.apache.spark.sql

/** A catalyst expression as a `Column`, which Spark keeps package-private:
  * the table layer builds row predicates whose literal sets it already
  * holds as internal values (see `SnapshotTable.notIn`). */
object ExpressionColumn {
  def apply(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
}
