package graft

import org.apache.spark.sql.functions._

import graft.etl.{DataLayout, ManifestFileIndex, ManifestTable}
import graft.expressions.ExprKernels
import graft.operators.ZOrder

/** Z-order expression bit math + clustered-write file skipping. */
class DataLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def mortonRef(x: Long, y: Long): Long = {
    // independent reimplementation: per-bit loop, no magic numbers
    var z = 0L
    var i = 0
    while (i < 32) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zorder2 kernel matches a per-bit reference on edges and randoms") {
    val edges = Seq(0L, 1L, 2L, 3L, 0xFFFFFFFFL, 0x80000000L, 12345L, 999999999L)
    for (x <- edges; y <- edges)
      assert(ExprKernels.zorder2(x, y) == mortonRef(x, y), s"($x, $y)")
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val x = rnd.nextLong() & 0xFFFFFFFFL
      val y = rnd.nextLong() & 0xFFFFFFFFL
      assert(ExprKernels.zorder2(x, y) == mortonRef(x, y), s"($x, $y)")
    }
  }

  test("zorder2 masks to the low 32 bits") {
    assert(ExprKernels.zorder2(1L << 40, 0L) == 0L)
    assert(ExprKernels.zorder2((1L << 40) | 3L, 0L) == 5L) // bits 0,1 -> 0,2
  }

  test("zorder column works on int columns via widening, also from SQL") {
    val df = Seq((3, 5L), (7, 1L)).toDF("a", "b").repartition(2)
    val got = df.select(DataLayout.zorder($"a", $"b").as("z"))
      .as[Long].collect().toSet
    assert(got == Set(mortonRef(3, 5), mortonRef(7, 1)))
    df.createOrReplaceTempView("zt")
    val sqlGot = spark.sql("SELECT zorder2(a, b) AS z FROM zt").as[Long].collect().toSet
    assert(sqlGot == got)
  }

  /** `df` published z-order-clustered by (x, y) into `nFiles` files with
    * stats on both columns. */
  private def clustered(df: org.apache.spark.sql.DataFrame, nFiles: Int,
                        dir: String): String = {
    val root = tmpDir(dir) + "/t"
    ManifestTable.publish(spark, root,
      Map("t" -> ZOrder.cluster(df, Seq("x", "y"), nFiles)),
      statsCols = Map("t" -> "x"), extraStatsCols = Map("t" -> Seq("y")))
    root
  }

  test("writeClustered + readSkipping: prunes files, results identical") {
    val n = 4096
    val df = spark.range(n).select(
      (col("id") % 64).as("x"),
      expr("id DIV 64").as("y"),
      col("id").as("payload"))
    val root = clustered(df, 8, "graft-zcluster")
    val skipped = ManifestTable.read(spark, root, "t")
      .filter(col("x").between(10L, 13L))
    val (keep, total) = ManifestFileIndex.filesKept(skipped)
    assert(total == 8, s"expected 8 files, manifest has $total")
    assert(keep > 0 && keep < 8,
      s"narrow x-range should touch a strict subset of tiles, kept $keep")

    val got = skipped.agg(count(lit(1)), sum(col("payload"))).as[(Long, Long)].head()
    val full = df.filter(col("x").between(10, 13))
      .agg(count(lit(1)), sum(col("payload"))).as[(Long, Long)].head()
    assert(got == full)
  }

  test("readSkipping with an out-of-range predicate returns empty, not error") {
    val df = spark.range(16).select(col("id").as("x"), col("id").as("y"))
    val root = clustered(df, 2, "graft-zempty")
    assert(ManifestTable.read(spark, root, "t")
      .filter(col("x").between(1000L, 2000L)).isEmpty)
  }
}
