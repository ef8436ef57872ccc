package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.etl.{ManifestTable, OpinionPipeline, RefShaped}

/** The checked star publish computes once and compiles once: the
  * generated-class cache ([[Tables.tune]]) holds a whole pass's classes,
  * and [[ManifestTable.publishChecked]] computes a dimension that other
  * checked frames contain once for all its lineage cuts. */
class PublishCheckedSpec extends SparkSpec {
  import spark.implicits._

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("runChecked: a second pass over the conformed star compiles " +
    "almost nothing new") {
    def pass(): Long = {
      val out = OpinionPipeline.conformFacts(RefShaped.out(spark, sf()))
      val c0 = compiled
      assert(OpinionPipeline.runChecked(spark, out,
        tmpDir("star-compiles") + "/star") == 1L)
      compiled - c0
    }
    val first = pass()
    val second = pass()
    info(s"classes compiled: first pass $first, second pass $second")
    // a pass generates more distinct classes than the default cache of
    // 100 holds; with the default every pass recompiled ~330 of them
    assert(second < 40L, s"second pass compiled $second classes")
  }

  test("publishChecked: a dimension a fact semi-joins is computed once " +
    "for every lineage cut, and is not left cached") {
    val dimRows = spark.sparkContext.longAccumulator("dimRows")
    val counted = udf { (id: Long) => dimRows.add(1L); id }
    val dim = spark.range(0, 50).select(counted($"id").as("id"),
      concat(lit("d"), $"id").as("name"))
    val fact = spark.range(0, 200).select(($"id" % 60).as("dim_id"), $"id".as("k"))
      .join(dim.select($"id".as("dim_id")), Seq("dim_id"), "left_semi")
    val root = tmpDir("shared-cut") + "/t"
    ManifestTable.publishChecked(spark, root, Map("dim" -> dim, "fact" -> fact),
      checks = Map("dim" -> Seq(("name_not_null", $"name".isNotNull)),
        "fact" -> Seq(("k_not_null", $"k".isNotNull))),
      uniqueKeys = Map("dim" -> Seq(Seq("id"))),
      foreignKeys = Seq(("fk_fact_dim", "fact", Seq("dim_id"), "dim", Seq("id"))))
    assert(dimRows.value == 50L,
      s"the dimension's rows were computed ${dimRows.value} times, not 50")
    assert(ManifestTable.read(spark, root, "fact").count() == 170L)
    assert(dim.storageLevel == StorageLevel.NONE,
      "the shared subtree is unpersisted once the cuts are done")
  }

  test("publishChecked: an input the caller persisted stays persisted " +
    "after a clean and an aborted publish, with either kind of cut") {
    def publish(dim: DataFrame, fact: DataFrame): Long =
      ManifestTable.publishChecked(spark, tmpDir("kept-cache") + "/t",
        Map("dim" -> dim, "fact" -> fact),
        checks = Map("dim" -> Seq(("name_not_null", $"name".isNotNull))),
        foreignKeys = Seq(("fk_fact_dim", "fact", Seq("dim_id"), "dim", Seq("id"))))
    def check(): Unit = {
      val dim = Seq((1L, "a"), (2L, "b")).toDF("id", "name").persist()
      try {
        val fact = Seq((10L, 1L), (11L, 2L)).toDF("k", "dim_id")
          .join(dim.select($"id".as("dim_id")), Seq("dim_id"), "left_semi")
        assert(publish(dim, fact) == 1L)
        assert(dim.storageLevel != StorageLevel.NONE,
          "a clean publish keeps the caller's cache")
        val orphan = Seq((12L, 3L)).toDF("k", "dim_id")
        val ex = intercept[IllegalStateException](publish(dim, orphan))
        assert(ex.getMessage.contains("fk_fact_dim"), ex.getMessage)
        assert(dim.storageLevel != StorageLevel.NONE,
          "an aborted publish keeps the caller's cache")
        // the cuts themselves persist their own inputs only transiently
        assert(orphan.storageLevel == StorageLevel.NONE)
      } finally dim.unpersist()
    }
    check()
    withReliableCuts(check())
  }
}
