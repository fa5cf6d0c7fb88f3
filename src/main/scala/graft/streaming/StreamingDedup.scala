package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{Dedup, DupGraph}

/** Streaming dup-graph maintenance: the durable day-2 refresh loop
  * ([[Dedup.refreshDupGraph]]) driven by a document STREAM — each
  * micro-batch folds into the graph stored at `path` and the result is
  * written back in place, so the on-disk pairs/clusters/index always
  * reflect every document seen so far. This is the production shape
  * for a daily/hourly crawl: candidate pairs for a batch cost
  * batch-index × stored-index shared shingles, never a corpus
  * re-enumeration, and any downstream consumer (dedup corpus,
  * leakage-safe split, size QA) reads the current cluster table
  * between batches.
  *
  * foreachBatch, not transformWithState: the graph's state IS the
  * parquet artifact (shared with batch jobs and surviving restarts by
  * construction), and the contraction is a multi-job iterative
  * operator that cannot run inside a stateful-operator update.
  *
  * ==Exactly-once under replay==
  * The sink is idempotent: every committed version records the
  * last-applied `batchId` in its manifest, and a re-delivered
  * micro-batch (id == the stored one — under a single checkpoint only
  * the exact last batch can replay) is SKIPPED — the standard
  * idempotent-sink pattern Structured Streaming passes `batchId` for.
  * An id BELOW the stored one is a checkpoint/graph mismatch (a
  * restart against a fresh checkpoint restarts ids at 0) and FAILS
  * loudly — skipping those would silently drop real batches until the
  * new counter caught up. This closes the
  * crash window between the graph's pointer commit and the stream's
  * own checkpoint commit: the replayed batch's ids are already in the
  * stored index and would otherwise self-pair, silently inflating
  * intersection counts in every later refresh (spec-pinned: same
  * batch delivered twice ⇒ stored graph byte-identical).
  *
  * Batch==streaming contract (spec-pinned): after processing batches
  * B1..Bk, the stored clusters equal `dupGraph(B1 ∪ … ∪ Bk)`'s — the
  * refresh==rebuild property, streamed.
  */
object StreamingDedup {

  /** Start the maintenance loop over a streaming frame bearing
    * (`doc_id`, `text`) columns. The first micro-batch builds the
    * graph; every later one refreshes it; a replayed micro-batch
    * (id == the stored manifest's) is a no-op; an id below the stored
    * manifest's throws (checkpoint/graph mismatch).
    */
  def maintain(docs: DataFrame, path: String,
               compactEvery: Int = Maintenance.DefaultCompactEvery,
               store: graft.ops.PointerStore =
                 graft.ops.PointerStore.File): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldBatch(batch.toDF(), path, batchId, compactEvery, store)
      }
      .start()

  /** One micro-batch's fold ([[Maintenance.fold]]) — build on first
    * contact, refresh after, SKIP on replay (spec-pinned directly: the
    * guard is the correctness boundary, not the stream wiring). After
    * the commit, auto-compaction folds the segment stack back to one
    * triple whenever any of the graph's three segment lists exceeds
    * `compactEvery`.
    */
  private[graft] def foldBatch(batch: DataFrame, path: String,
                               batchId: Long,
                               compactEvery: Int =
                                 Maintenance.DefaultCompactEvery,
                               store: graft.ops.PointerStore =
                                 graft.ops.PointerStore.File): Unit = {
    val spark = batch.sparkSession
    Maintenance.fold("StreamingDedup", DupGraph.Spec, path, batchId,
      compactEvery, store) { cur =>
      val g = cur.fold(Dedup.dupGraph(batch, col("text"), col("doc_id")))(
        c => Dedup.refreshDupGraph(DupGraph.at(spark, c), batch,
          col("text"), col("doc_id")))
      try g.write(path, batchId = Some(batchId), store = store)
      finally g.unpersist()
      true
    } { DupGraph.compact(spark, path, retain = 2, store = store) }
  }
}
