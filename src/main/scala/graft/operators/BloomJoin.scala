package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.ColumnBridge

/** Bloom-filter semi-join reduction: prune a huge fact side BEFORE its
  * join shuffle using a compact Bloom filter built from the (already
  * filtered) dimension keys.
  *
  * This is the shape Spark's own runtime row-level filtering
  * (`InjectRuntimeFilter`) produces, exposed as a library operator so a
  * pipeline can apply it deliberately: the filter is built by one small
  * aggregation over the dim keys, travels as a SCALAR SUBQUERY result
  * (megabytes, independent of fact size), and the `might_contain` probe
  * runs map-side in the fact scan — at 100 TB this drops the dominant
  * cost, shuffling fact rows that cannot possibly join. False positives
  * only cost wasted shuffle rows; the exact join downstream removes
  * them, so results are bit-identical with or without the prefilter
  * (spec-proven).
  *
  * Sizing: `numBits` defaults to 8 bits/item at the default
  * `expectedItems` = 1M (~1% false-positive rate, 1 MiB filter). Size
  * expectedItems to the POST-filter dim cardinality; an undersized
  * filter degrades to a higher FP rate, never to wrong answers.
  */
object BloomJoin {

  /** One-row DataFrame holding the Bloom filter (binary) of `key` over
    * `keys`, sized for 1e6 expected items in 8e6 bits — keys are hashed
    * with xxhash64, matching [[prefilter]]. */
  def bloomFilterOf(keys: DataFrame, key: Column): DataFrame = {
    val (expectedItems, numBits) = (1000000L, 8000000L)
    keys.select(ColumnBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(ColumnBridge.expression(key))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression()).as("bf"))
  }

  /** `fact` rows whose `factKey` might be in `dimKeys`' `dimKey` set
    * (exact-superset semantics: every joining row survives; a ~FP-rate
    * fraction of non-joining rows ride along and die in the real join). */
  def prefilter(fact: DataFrame, factKey: Column,
      dimKeys: DataFrame, dimKey: Column): DataFrame = {
    val bloom = bloomFilterOf(dimKeys, dimKey)
    // the filter rides as a scalar subquery — evaluated once, inlined as
    // a literal into the fact-side predicate (InjectRuntimeFilter's own
    // transport); BloomFilterMightContain requires exactly this shape
    val sub = ScalarSubquery(bloom.queryExecution.analyzed)
    fact.filter(ColumnBridge.column(
      BloomFilterMightContain(sub,
        new XxHash64(Seq(ColumnBridge.expression(factKey))))))
  }
}
