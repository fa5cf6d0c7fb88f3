package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SegmentedArtifact.{Bucketed, Family, Version, union}

/** Durable seen-shingle index — the artifact behind
  * [[TextAnalysis.noveltyRateIncremental]]'s production loop: the set
  * of every shingle hash the corpus has contributed so far, stored as
  * immutable segments BUCKETED on `sh` so each batch's novelty
  * anti-join is exchange-free on the (corpus-sized) index side, and
  * committed through [[graft.ops.SegmentedArtifact]] — per-batch
  * commit bytes follow the batch's NEW shingles, never the
  * accumulated set.
  *
  * Loop shape (daily crawl / `foreachBatch`): `read → novelty(batch)
  * → update(batch) → write` — processing a corpus in id-ordered
  * batches reproduces the full-corpus [[TextAnalysis.noveltyRate]]
  * exactly (the pinned equivalence property, now held across the
  * durable round trip too).
  */
final class NoveltyIndex private[ext] (
    mkSegs: () => Seq[DataFrame], // (sh: bigint) per ingested batch
    val n: Int,
    val buckets: Int,
    private[ext] val lineage: Option[NoveltyIndex.Lineage] = None) {

  private[ext] lazy val segs: Seq[DataFrame] = mkSegs()

  /** Union view of the seen-shingle set (one `sh` column). */
  lazy val seen: DataFrame = union(segs)

  /** Per-doc novelty of a NEW batch against everything seen so far —
    * [[TextAnalysis.noveltyRateIncremental]] over the stored segments
    * (chained anti-joins; the index side never shuffles).
    */
  def novelty(newDocs: DataFrame, text: Column, id: Column): DataFrame =
    TextAnalysis.noveltyReportSegs(newDocs, text, id, n, segs)

  /** Fold the batch in: the delta segment is the batch's distinct
    * shingles ABSENT from every stored segment (so segments stay
    * disjoint and `seen` is an exact set union — no segment ever
    * needs deduplication against another at read time).
    */
  def update(newDocs: DataFrame, text: Column, id: Column): NoveltyIndex = {
    val batch = newDocs.select(explode(array_distinct(
        graft.functions.HashFunctions.shingleHash48(text, n))).as("sh"))
      .distinct()
    val delta = segs.foldLeft(batch)((acc, s) =>
      acc.join(s, Seq("sh"), "left_anti"))
    // The READ path (seen/novelty on the un-committed handle)
    // checkpoints the delta so repeated consumers materialize the batch
    // shingle projection + anti-join chain once — but LAZILY, inside
    // the segment closure: constructing even a lazy checkpoint costs
    // driver-side planning + codegen compilation the update→write fast
    // path must not pay (write() evaluates the plan exactly once into
    // the segment file; its returned committed view re-opens from
    // disk). The lineage closure hands write() the checkpointed frame
    // IF anything already forced it (a CHAINED update builds its
    // anti-join over it — raw there would evaluate this delta twice in
    // one commit), else the raw plan. localCheckpoint, not persist:
    // the CacheManager dedupes persisted plans ACROSS invocations,
    // which falsifies benchmarks — the repo-wide rule.
    @volatile var ckForced = false
    lazy val deltaCk = { ckForced = true; delta.localCheckpoint(false) }
    new NoveltyIndex(() => segs :+ deltaCk, n, buckets,
      lineage = lineage.map(l =>
        l.copy(deltas = l.deltas :+ (() => if (ckForced) deltaCk else delta))))
  }

  /** Commit under `path` ([[graft.ops.SegmentedArtifact.commit]]): an
    * index whose lineage roots here emits only its unwritten deltas as
    * one segment bucketed on `sh`; otherwise the whole set as one
    * segment. Returns the COMMITTED view (segments re-opened from the
    * files just written, no pending deltas) — equal to an immediate
    * [[NoveltyIndex.read]], so an update→score pipeline skips the
    * re-open round trip.
    */
  def write(path: String, batchId: Option[Long] = None,
            store: graft.ops.PointerStore =
              graft.ops.PointerStore.File): NoveltyIndex = {
    val lin = lineage.filter(_.base.root == path)
    val puts = lin match {
      case Some(l) if l.deltas.nonEmpty =>
        Seq(NoveltyIndex.Seen -> (() => union(l.deltas.map(_()))))
      case Some(_) => Nil
      case None => Seq(NoveltyIndex.Seen -> (() => seen))
    }
    NoveltyIndex.at(SparkSession.active, NoveltyIndex.Spec.commit(path, store,
      base = lin.map(_.base), batchId = batchId,
      params = Map("n" -> n.toString, "buckets" -> buckets.toString),
      puts = puts))
  }
}

object NoveltyIndex {

  /** Same 48-bit shingle kernel contract as the dup-graph's — an index
    * hashed under a different scheme must fail loudly on read.
    */
  val HashVersion: String = DupGraph.HashVersion

  private val Seen = Family("ssegs", "s", Bucketed("sh"))
  private[graft] val Spec = new graft.ops.SegmentedArtifact(
    "NoveltyIndex", "hash", HashVersion, Seq(Seen))

  private[ext] final case class Lineage(base: Version,
                                        deltas: Seq[() => DataFrame])

  /** Build the initial index from the day-1 corpus. */
  def build(docs: DataFrame, text: Column, id: Column, n: Int,
            buckets: Int = 32): NoveltyIndex = {
    val firsts = docs.select(explode(array_distinct(
        graft.functions.HashFunctions.shingleHash48(text, n))).as("sh"))
      .distinct()
    new NoveltyIndex(() => Seq(firsts), n, buckets)
  }

  /** Re-open the LATEST committed version (the shared versioned-pointer
    * reader contract — see [[DupGraph.read]]).
    */
  def read(spark: SparkSession, path: String,
           store: graft.ops.PointerStore =
             graft.ops.PointerStore.File): NoveltyIndex =
    at(spark, Spec.open(path, store))

  private[graft] def at(spark: SparkSession, c: Version): NoveltyIndex =
    new NoveltyIndex(() => Spec.segments(spark, c, Seen),
      n = c("n").toInt, buckets = c.buckets,
      lineage = Some(Lineage(c, deltas = Nil)))

  /** True iff a complete committed version exists at `path`. */
  def exists(path: String,
             store: graft.ops.PointerStore =
               graft.ops.PointerStore.File): Boolean =
    Spec.exists(path, store)

  /** The last streaming batch id folded into the committed index, if
    * the writer recorded one ([[DupGraph.lastBatchId]]'s contract —
    * the replay guard for exactly-once `foreachBatch` maintenance).
    */
  def lastBatchId(path: String,
                  store: graft.ops.PointerStore =
                    graft.ops.PointerStore.File): Option[Long] =
    Spec.lastBatchId(path, store)

  /** Fold segments back to one ([[graft.ops.SegmentedArtifact.compact]]). */
  def compact(spark: SparkSession, path: String, retain: Int = 1,
              store: graft.ops.PointerStore =
                graft.ops.PointerStore.File): Unit =
    Spec.compact(path, retain, store) { c =>
      Seq(Seen -> (() => Spec.folded(spark, c, Seen)))
    }
}
