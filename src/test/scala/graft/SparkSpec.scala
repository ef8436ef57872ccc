package graft

import org.apache.spark.graftbridge.CheckpointDirBridge
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one per suite (lazy), tuned like Verify/Bench. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.tune(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        { val w = java.nio.file.Files.createTempDirectory("graft-warehouse")
          w.toFile.deleteOnExit(); w.toString })
      .config("spark.ui.enabled", "false"))
    .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` with lineage cuts as reliable checkpoints
    * (`spark.graft.checkpoint.dir`), the cut's persist-then-checkpoint
    * branch, instead of the local checkpoints tests use otherwise. */
  def withReliableCuts[T](body: => T): T = {
    val sc = spark.sparkContext
    val prior = CheckpointDirBridge.get(sc)
    spark.conf.set("spark.graft.checkpoint.dir", tmpDir("graft-ckpt"))
    try body finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      CheckpointDirBridge.restore(sc, prior)
    }
  }

  def tmpDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.etl.IncrementalLoad.deleteRecursively(p)))
    p.toString
  }
}
