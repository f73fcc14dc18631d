package graft.util

import org.apache.spark.sql.{DataFrame, Dataset}

/** The durability dial for iterative loops: each round must root a
  * fresh plan — otherwise round N's plan nests every prior round's
  * and optimizer time grows super-linearly — but HOW it roots is a
  * deployment decision:
  *
  *  - `localCheckpoint()` (the default): executor-memory/disk blocks,
  *    fastest, but blocks die with their executor — on a preemptible
  *    cluster that kills a 40-round job near the end with no way to
  *    recompute (the lineage was truncated);
  *  - reliable `checkpoint()`: writes to the fault-tolerant checkpoint
  *    store (HDFS/S3), survives executor loss.
  *
  * Set the session conf [[Checkpoints.DirKey]] (`graft.checkpoint.dir`)
  * to a durable path to flip the loops that root through here to
  * reliable mode — same loop code, no call-site changes. Superseded
  * rounds are freed in either mode
  * ([[org.apache.spark.sql.GraftBridge.freeCheckpoint]]): blocks
  * unpersisted, reliable checkpoint files deleted once the next round
  * is materialized.
  *
  * Loops that honor the dial: connected components, the k-core peel
  * and label propagation (all through [[Fixpoint]]), and BPE training.
  * Loops that still call `localCheckpoint(true)` directly, and so stay
  * executor-local whatever the dial says: BFS (`Spectral.bfsIterate`),
  * HITS (`Postings.hitsHubs`) and TextRank (`Postings`).
  */
object Checkpoints {

  /** Session conf key: a durable directory (HDFS/S3/local path) ⇒
    * loops use reliable `checkpoint()`; unset ⇒ `localCheckpoint()`. */
  val DirKey = "graft.checkpoint.dir"

  /** Eagerly materialize `df` and root a fresh plan, reliable or
    * local per the [[DirKey]] conf. */
  def root(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(DirKey) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // align the context's checkpoint dir with the conf (idempotent;
        // re-pointing is legal and only affects NEW checkpoints).
        // Exact prefix match on the normalized path — a substring test
        // would silently ignore a re-point from /mnt/ckpt to /mnt/ck
        val normalized = new org.apache.hadoop.fs.Path(dir).toUri.getPath
        val current = sc.getCheckpointDir
          .map(d => new org.apache.hadoop.fs.Path(d).toUri.getPath)
        if (!current.exists(c => c == normalized ||
            c.startsWith(normalized + "/")))
          sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** Free a superseded round's checkpoint (blocks and/or files). Only
    * call after the NEXT round is eagerly materialized. */
  def free(df: Dataset[_]): Unit =
    org.apache.spark.sql.GraftBridge.freeCheckpoint(df)
}
