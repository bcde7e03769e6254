package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Rotating local-checkpoint bookkeeping for iterative operators.
  *
  * `Dataset.localCheckpoint()` materializes the frame into block-manager
  * storage, and nothing frees those blocks until the DRIVER garbage-
  * collects the underlying RDD object (ContextCleaner reacts to JVM GC;
  * its own periodic GC defaults to 30 min). An iterative operator that
  * checkpoints per round therefore keeps its ENTIRE generation history
  * alive for the lifetime of a long-running session. For the connected-
  * components loop the generation frame is corpus-sized (one label row
  * per document), so at production scale an unbounded while-loop holds
  * rounds × |corpus| rows of executor storage it will never read again.
  *
  * [[checkpoint]] eagerly materializes and records which persistent-RDD
  * id backs the frame; [[free]] drops a generation's blocks. Loops
  * rotate generations through [[Fixpoint]], which is built on these.
  *
  * Contract: a freed generation is UNREADABLE (local checkpoints
  * truncate lineage — there is nothing to recompute from), so a
  * generation is freed only once its successor is materialized, which
  * the eager [[checkpoint]] guarantees. A generation owns only the RDD
  * its checkpoint wrote, never a lazy cache that first materialized in
  * the same job, so freeing it un-caches nothing else.
  */
object Lineage {

  /** A materialized generation: the checkpointed frame plus the
    * persistent-RDD id holding its blocks. */
  final case class Gen(df: DataFrame, ids: Set[Int])

  /** Eagerly localCheckpoint `df` and record its block footprint. */
  def checkpoint(df: DataFrame): Gen = {
    val out = df.localCheckpoint()
    Gen(out, out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet)
  }

  /** Drop a generation's blocks (non-blocking). The frame must not be
    * read again. */
  def free(g: Gen): Unit = {
    val reg = g.df.sparkSession.sparkContext.getPersistentRDDs
    g.ids.foreach(id => reg.get(id).foreach(_.unpersist(blocking = false)))
  }
}
