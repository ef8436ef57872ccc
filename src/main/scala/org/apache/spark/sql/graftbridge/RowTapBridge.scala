package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.functions.col

/** Per-partition observation of a frame's rows while a downstream
  * action (a file write) consumes them — so metadata a writer needs per
  * output file is gathered in the write job itself instead of by a
  * second pass over the written files. Creating a DataFrame from an
  * `RDD[InternalRow]` is `private[sql]`, hence the bridge package (same
  * technique as [[ColumnBridge]]). */
object RowTapBridge {

  /** What one partition's rows pass through. `row` sees the frame's
    * columns followed by the `extra` columns of [[tapped]], in a REUSED
    * row: read its values, never keep it. `done` runs once, after the
    * partition's last row (also for an empty partition). */
  trait Observer {
    def row(r: InternalRow): Unit
    def done(): Unit
  }

  /** `df` re-planned so every row of partition `p` passes
    * `observer(p)` as it is consumed, with the values of `extra`
    * (computed alongside, not emitted) appended. Rows, schema and
    * partitioning equal `df`'s, so a write of the result writes
    * partition `p` in task `p`. Planning runs `df`'s shuffle stages, if
    * any, before this returns. */
  def tapped(df: DataFrame, extra: Seq[Column],
             observer: Int => Observer): DataFrame = {
    val wide = df.select(col("*") +: extra: _*)
    val out = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) }
    val rdd = wide.queryExecution.toRdd.mapPartitionsWithIndex { (p, it) =>
      val obs = observer(p)
      val narrow = UnsafeProjection.create(out)
      var open = true
      new Iterator[InternalRow] {
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && open) { open = false; obs.done() }
          h
        }
        def next(): InternalRow = {
          val r = it.next()
          obs.row(r)
          narrow(r)
        }
      }
    }
    df.sparkSession.asInstanceOf[ClassicSession]
      .internalCreateDataFrame(rdd, df.schema)
  }
}
