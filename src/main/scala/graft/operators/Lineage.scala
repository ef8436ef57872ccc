package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one lineage-cut policy shared by every iterative operator
  * (label propagation, star contraction, PageRank, BFS): without a cut,
  * each round's plan nests the previous round's, so analysis/codegen cost
  * grows with iterations and a failure recomputes the whole history.
  *
  * Policy: a RELIABLE checkpoint when `spark.graft.checkpoint.dir` is set
  * — at 100 TB with dynamic allocation an executor loss would kill a
  * localCheckpoint'd job, while a reliable checkpoint recovers from
  * storage (persist + checkpoint so the write doesn't recompute the
  * plan; an input that is already cached is read from its cache and
  * left cached). Local mode / tests fall back to `localCheckpoint` (no FS
  * round-trip). Superseded iteration checkpoints are reclaimed by the
  * ContextCleaner (`spark.cleaner.referenceTracking.cleanCheckpoints` is
  * on in Tables.tune), so an N-round loop doesn't accumulate N copies. */
private[graft] object Lineage {

  def cut(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpoint.dir") match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        // unpersist only what this cut persisted: an input the caller
        // (or publishChecked's shared-subtree cache) holds stays cached
        val owned = df.storageLevel == StorageLevel.NONE
        if (owned) df.persist()
        val out = df.checkpoint()
        if (owned) df.unpersist()
        out
      case None => df.localCheckpoint()
    }
}
