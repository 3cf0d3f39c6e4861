package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter dedup prefilter — THE pattern for incremental exact
  * dedup against a huge historical corpus: instead of semi-joining every
  * incoming batch against N billion historical content hashes (a shuffle
  * of the whole history), build a Bloom filter over the history ONCE,
  * broadcast its bytes (MBs, tunable FP rate), and let a narrow filter
  * discard the overwhelmingly-new majority; only the tiny might-contain
  * remainder pays the exact confirmation join. False positives are
  * eliminated by that confirm stage, false negatives don't exist — so
  * bloom→confirm is row-identical to the plain semi join (which is what
  * the q63 oracle checks).
  *
  * Built on Spark's own sketch machinery — the same
  * `BloomFilterAggregate`/`BloomFilterMightContain` expression pair the
  * optimizer injects for runtime row-level filtering — rather than a
  * hand-rolled UDF: the aggregate builds the filter DISTRIBUTED (partial
  * filters per partition, merged once), and the probe is a codegen'd
  * expression over a broadcast literal, so it fuses into the scan.
  */
object BloomDedup {

  /** Build a Bloom filter over `key` of `corpus`; returns the serialized
    * filter (~numBits/8 bytes). The `head()` fetches ONE row holding the
    * merged filter — a scalar-aggregate fetch like any count(), not a
    * data collect; the build itself is a distributed partial aggregation.
    *
    * `expectedItems`/`numBits` size the filter: FP rate ≈
    * (1-e^(-kn/m))^k; 8 bits/item ≈ 2% FPs. At 100 TB the history-side
    * build is one pass, and numBits is bounded by
    * spark.sql.optimizer.runtime.bloomFilter.maxNumBits (default 64 MB
    * of bits) — shard the filter by key range if the history outgrows
    * one filter's FP budget. */
  def buildFilter(corpus: DataFrame, key: Column,
                  expectedItems: Long, numBits: Long): Array[Byte] = {
    val hash = new XxHash64(Seq(GraftSqlBridge.expression(key)))
    val agg = new BloomFilterAggregate(
      hash, Literal(expectedItems), Literal(numBits))
    corpus.select(GraftSqlBridge.column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Narrow might-contain probe against a built filter. Never false
    * negative; may be false positive — callers MUST confirm positives
    * exactly (see q63) when exact semantics are required. */
  def mightContain(filterBytes: Array[Byte], key: Column): Column =
    GraftSqlBridge.column(BloomFilterMightContain(
      Literal(filterBytes, BinaryType),
      new XxHash64(Seq(GraftSqlBridge.expression(key)))))
}
