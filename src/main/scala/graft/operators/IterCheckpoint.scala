package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** Per-round lineage truncation for the iterative graph family (LPA,
  * connected components) — one place so the local/reliable choice and
  * the free-the-previous-round lifecycle cannot drift between loops.
  *
  * Default: `rdd.localCheckpoint()` — fastest (executor-resident
  * blocks), but blocks die with their executor, so a lost executor
  * mid-loop fails the job. Set `spark.graft.checkpointDir` to a
  * cluster-visible path to swap in RELIABLE `rdd.checkpoint()` at the
  * same cadence: each round's labels are written to that directory
  * (persisted first, so the checkpoint job re-reads blocks instead of
  * recomputing the round), survive executor loss, and the previous
  * round's files are deleted as soon as the next round has
  * materialized — at most two round-artifacts ever live.
  *
  * Round 13; also fixes the ADVICE race in the round-12 lifecycle:
  * rounds now hold a DIRECT handle to their own checkpointed RDD
  * instead of diffing the context-global persistent-RDD set, so a
  * concurrent job persisting RDDs in the diff window can no longer be
  * captured and unpersisted by someone else's loop.
  *
  * Ownership rule for non-iterative operators (the serve and ingest
  * paths: `Retrieval.bm25RankedFrom`, `Similarity.refineOf`, the PQ /
  * IVFPQ builders, `Curation.pipelineCurateOf`, `Dedup.dedupPipeline`):
  * a frame the operator reads more than once is a `Dataset.localCheckpoint()`,
  * never a `cache()`, and the result stays lazy. The returned plan holds
  * the checkpoint; once the caller drops the result, Spark's
  * ContextCleaner frees its blocks, so neither the caller nor a harness
  * releases anything, and a session that stays up (REST server,
  * streaming loop) accumulates no cache-manager entries. Two kinds of
  * frame stay as they are, because a checkpoint keeps neither property:
  * one a consumer reuses for its hash partitioning, and one whose pruned
  * scan must stay visible in the served plan (`Retrieval.bm25Of`).
  */
private[graft] object IterCheckpoint {

  /** One round's materialized labels: the frame to keep computing
    * with, plus the direct RDD handle [[release]] frees later. */
  final case class Ck(df: DataFrame, rdd: RDD[Row])

  /** Materialize `df` with truncated lineage. `eager` runs the
    * materializing count now (LPA — every round is a barrier anyway);
    * lazy leaves materialization to the caller's next action (CC — its
    * convergence aggregate is that action, no extra job). */
  def checkpoint(df: DataFrame, eager: Boolean): Ck = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val rdd = df.rdd
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) =>
        // setCheckpointDir appends a per-call UUID subdir, so "already
        // pointing at the conf dir" means the CURRENT dir's parent is
        // the qualified conf path. Re-set whenever the conf moved (or
        // a dir was set elsewhere) so new round files land where the
        // conf says instead of silently staying in the old directory.
        val want = new org.apache.hadoop.fs.Path(dir)
        val qual = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
        if (!sc.getCheckpointDir.exists(c =>
              Option(new org.apache.hadoop.fs.Path(c).getParent).contains(qual)))
          sc.setCheckpointDir(dir)
        // persist BEFORE checkpoint: the checkpoint job then re-reads
        // the computed blocks instead of re-running the round
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
      case None =>
        rdd.localCheckpoint()
    }
    if (eager) rdd.count()
    Ck(spark.createDataFrame(rdd, df.schema), rdd)
  }

  /** Free a PREVIOUS round's artifact — call only after the next
    * round's checkpoint has materialized (its blocks/files are the
    * recovery point now): unpersist the blocks and, on the reliable
    * path, delete the round's checkpoint files. */
  def release(prev: Ck): Unit = {
    prev.rdd.unpersist(blocking = false)
    prev.rdd.getCheckpointFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(prev.rdd.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }
}
