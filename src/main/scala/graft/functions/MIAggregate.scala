package graft.functions

import graft.stats.CellTable
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Column, Encoder, Encoders}

/** Typed `Aggregator` computing the mutual information (nats) of a pair of
  * categorical columns — the SURVEY.md §7.4 "contingency aggregation as a
  * custom aggregate" realized: pair counts accumulate MAP-SIDE into the
  * aggregation buffer (partial aggregation bounds the shuffle by distinct
  * levels², not rows — the same property the IFS counting passes get
  * from their per-partition cell counter, here packaged as a reusable
  * group-aware aggregate), and
  * the tiny count map folds to one double per group in `finish`.
  *
  * Usable anywhere an aggregate goes: `df.groupBy(g).agg(MIAggregate.mi(x,
  * y))` — grouped MI was impossible in the reference (one global matrix
  * per job, `reference:IterativeFeatureSelection.scala:97`).
  */
object MIAggregate {

  // The buffer is a graft.stats.CellTable with key 0: a plain Array[Long]
  // (natively encoded — ArrayType(Long), no Kryo) holding an open-addressed
  // table of exact (xBits, yBits) → count cells. `reduce`/`merge` mutate the
  // array in place and return it (the documented Aggregator fast path;
  // ObjectHashAggregate keeps the live buffer as an object and only encodes
  // on spill/shuffle), so the per-row cost is one hash probe. Capacity is
  // bounded by distinct level pairs, never by row count. `finish` is the
  // IFS core's own fold (CellTable.foldTable): ±0.0 are one level and every
  // NaN is one level, as in the conventional and blocked IFS paths.

  /** Inputs are boxed so a NULL in either column is representable: a null
    * pair contributes nothing (SQL-aggregate convention — `corr`, `covar`
    * etc. likewise skip rows with any null operand) instead of failing the
    * whole aggregation with a non-nullable-field encoder error.
    */
  val aggregator: Aggregator[(java.lang.Double, java.lang.Double),
      Array[Long], Double] =
    new Aggregator[(java.lang.Double, java.lang.Double),
        Array[Long], Double] {
      override def zero: Array[Long] = Array.emptyLongArray

      override def reduce(b: Array[Long],
          a: (java.lang.Double, java.lang.Double)): Array[Long] = {
        if (a._1 == null || a._2 == null) b
        else CellTable.add(b, 0L,
          java.lang.Double.doubleToLongBits(a._1.doubleValue),
          java.lang.Double.doubleToLongBits(a._2.doubleValue), 1L)
      }

      override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
        CellTable.merge(b1, b2)

      override def finish(b: Array[Long]): Double = CellTable.foldTable(b)._1

      override def bufferEncoder: Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()

      override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }

  /** Column form: `mi(x, y)` as an aggregate expression; null-skipping. */
  def mi(x: Column, y: Column): Column = {
    import org.apache.spark.sql.functions.udaf
    udaf(aggregator, Encoders.tuple(Encoders.DOUBLE, Encoders.DOUBLE))
      .apply(x.cast("double"), y.cast("double"))
  }
}
