package graft.testkit

import org.apache.spark.sql.Dataset
import org.scalatest.Assertions.fail

/** Multiset-correct dataset equality assertion.
  *
  * The reference's `ensureDatasetEquals` (`Utils.scala:83-88`) compared
  * `collect().toSet` — duplicate rows collapse, so multiplicity bugs pass.
  * Here both directions use `exceptAll` (bag semantics, distributed — no
  * driver-side collect of the full data), plus an order/nullability-
  * insensitive schema check like the reference's. Failures go through
  * ScalaTest (`TestFailedException`), so an enclosing `withClue` prefixes
  * its clue to the message.
  */
object DatasetComparisons {

  implicit class DatasetEquality[T](val ds: Dataset[T]) extends AnyVal {

    /** Fails the test unless `ds` and `other` have equal schemas
      * (as name→type sets) and equal row multisets. */
    def ensureDatasetEquals(other: Dataset[T], onlySchema: Boolean = false): Unit = {
      val s1 = ds.schema.fields.map(f => (f.name, f.dataType)).toSet
      val s2 = other.schema.fields.map(f => (f.name, f.dataType)).toSet
      if (s1 != s2) fail(s"Schemas differ:\n  left: $s1\n  right: $s2")
      if (!onlySchema) {
        val leftDf = ds.toDF()
        val rightDf = other.toDF()
        val extraLeft = leftDf.exceptAll(rightDf).count()
        val extraRight = rightDf.exceptAll(leftDf).count()
        if (extraLeft != 0 || extraRight != 0)
          fail(s"Row multisets differ: $extraLeft rows only in left, " +
            s"$extraRight rows only in right")
      }
    }
  }
}
