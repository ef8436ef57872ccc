package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.ZOrderExpr

/** Data-layout helpers: the Morton (z-order) value clustered writes
  * sort by, and a rendezvous shard assignment. A clustered table is
  * written with [[graft.operators.ZOrder.cluster]] and published through
  * [[ManifestTable]] with stats on the clustered columns, whose reads
  * then skip the files a range filter misses.
  */
object DataLayout {

  /** Morton value of two integral columns (see [[ZOrderExpr]]). */
  def zorder(a: Column, b: Column): Column = ZOrderExpr.zorder2(a, b)

  /** Rendezvous (highest-random-weight) shard assignment (Thaler &
    * Ravishankar 1998): key k lands on `argmax_s h32(s + ":" + k)` over
    * the `shards` candidate seeds, ties by smallest shard. The property
    * that matters for incremental pipelines: growing the ring from S to
    * S+1 moves EXACTLY the keys the new shard wins — an expected 1/(S+1)
    * of the corpus — while every other key's argmax is untouched; a
    * plain `hash(k) mod S` reshuffles almost everything. Scan-side,
    * codegen'd (the house md5-prefix h32), zero shuffle: sharding 100 TB
    * costs one projection, and the assignment is a pure function any
    * engine replays. `shards` is bounded (one literal struct per shard
    * in the expression tree). */
  def rendezvousShard(key: Column, shards: Int): Column = {
    require(shards >= 1 && shards <= 1024,
      "rendezvousShard: shards must be in [1, 1024] (literal argmax width)")
    val cands = (0 until shards).map { sIdx =>
      val h = conv(substring(md5(concat(lit(sIdx + ":"),
        key.cast("string"))), 1, 8), 16, 10).cast("long")
      struct(h.as("h"), lit(-sIdx.toLong).as("ns"))
    }
    -array_max(array(cands: _*)).getField("ns")
  }
}
