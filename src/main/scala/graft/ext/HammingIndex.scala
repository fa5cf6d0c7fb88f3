package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SegmentedArtifact.{Bucketed, Family, Version, union}

/** Durable banded-hamming fingerprint index — the incremental dedup
  * lifecycle for PERCEPTUAL fingerprints (image dHash, audio
  * spectro-temporal hash, video keyframe hash, text SimHash: anything
  * [[Dedup.simhashHammingPairs]] consumes), the same day-2 economics
  * [[DupGraph]] gives shingle dedup: fold a new fingerprint batch in
  * WITHOUT re-enumerating the corpus's pairs.
  *
  * ==Artifact layout==
  * `path/segments/i<v>/` — the banded index: one `(bkey, doc_id, fp)`
  * row per (item, band), `bkey` = [[Dedup.hammingBandKeys]]'s folded
  * band key, hash-BUCKETED on `bkey` so every later batch's candidate
  * join is exchange-free on the (corpus-sized) stored side.
  * `path/segments/p<v>/` — the accumulated pair deltas
  * `(da, db, hamming)`, plain parquet (pairs are results, never a
  * recurring-join build side). Commits go through
  * [[graft.ops.SegmentedArtifact]]: a refreshed index written back to
  * its root emits ONLY the batch's index + pair delta segments —
  * per-batch commit bytes follow the batch and its TRUE new pairs,
  * never the corpus.
  *
  * ==Refresh == rebuild (the invariant)==
  * Batches are append-only with ids disjoint from the stored corpus
  * (the [[Dedup.refreshDupGraph]] rule), so every pair is either
  * INTERNAL to one batch or CROSSES from a batch to the corpus stored
  * before it — refresh computes exactly those two sets
  * (batch self-pairs via the ONE shared [[Dedup.simhashHammingPairs]]
  * formula; cross pairs via the batch's band keys against each stored
  * segment's bucketed index) and their union over all folds equals
  * `simhashHammingPairs(all fingerprints)` EXACTLY (spec-pinned, and
  * the `q_media_dedup_refresh` oracle row replays the full-corpus
  * fixpoint in DuckDB).
  *
  * ==Scale posture==
  * Candidate cost follows band-bucket collisions, never corpus pairs;
  * the stored side of every refresh join reads straight from its
  * bucket files (zero Exchange — a bucketed segment family); a
  * 100 TB media lake reduces to 8 bytes/item before
  * anything shuffles, and day-2 cost follows the batch. Segment count
  * grows one per batch until [[HammingIndex.compact]] (the streaming
  * maintainer auto-compacts past a threshold).
  */
final class HammingIndex private[ext] (
    mkIdxSegs: () => Seq[DataFrame], // (bkey, doc_id, fp)
    mkPairSegs: () => Seq[DataFrame], // (da, db, hamming)
    val maxDist: Int,
    val bands: Int,
    val bits: Int,
    val buckets: Int,
    private[ext] val lineage: Option[HammingIndex.Lineage] = None) {

  private[ext] lazy val idxSegs: Seq[DataFrame] = mkIdxSegs()
  private[ext] lazy val pairSegs: Seq[DataFrame] = mkPairSegs()

  private def width: Int = bits / bands

  /** The stored fingerprints (doc_id, fp) — the band-0 slice of the
    * index (every item carries exactly one bkey below 2^width), so the
    * view costs a partition-pruned-free FILTER, never a distinct.
    */
  lazy val fingerprints: DataFrame =
    union(idxSegs.map(_.filter(col("bkey") < (1L << width))
      .select(col("doc_id"), col("fp"))))

  /** Every near-dup pair discovered so far (da < db, hamming <=
    * maxDist) — the union of the per-batch pair deltas, equal to
    * [[Dedup.simhashHammingPairs]] over [[fingerprints]].
    */
  lazy val pairs: DataFrame = union(pairSegs)

  /** Fold a new fingerprint batch (`doc_id`, `fp`) in: the index delta
    * is the batch's banded rows; the pair delta is the batch's
    * internal pairs (the ONE shared pair formula) plus its cross pairs
    * against each stored segment (bucket-colocated equi-join on
    * `bkey`, exact `bit_count` post-filter, multi-band collapse). Ids
    * must be disjoint from the stored corpus (append-only ingest);
    * same-id echoes are screened (`da < db` keeps the least/greatest
    * orientation strict) but violating disjointness forfeits the
    * refresh == rebuild equivalence for the duplicated id.
    */
  def refresh(newFps: DataFrame): HammingIndex = {
    val batch = newFps.select(col("doc_id"), col("fp"))
    // The banded delta feeds BOTH the index-segment write and the
    // cross-pair join, so checkpoint it unconditionally (lazy
    // MATERIALIZATION — first action computes it once): the batch's
    // upstream is often a decode chain, and evaluating it twice per
    // commit is exactly the tax this artifact exists to avoid. (The
    // two commit jobs share it concurrently — the Staging.parJobs
    // lazy-checkpoint contract.)
    val idxCk = HammingIndex.banded(batch, bands, bits)
      .localCheckpoint(false)
    // internal pairs read the batch fingerprints back OUT of the
    // checkpoint (its band-0 slice) — the decode chain upstream of
    // `newFps` evaluates exactly once per commit, full stop
    val internal = Dedup.simhashHammingPairs(
      idxCk.filter(col("bkey") < (1L << width))
        .select(col("doc_id"), col("fp")),
      maxDist, bands, bits)
    val cross = HammingIndex.crossPairs(idxCk, idxSegs, maxDist)
    val pairDelta = cross.fold(internal)(internal.unionByName(_))
    @volatile var pairForced = false
    lazy val pairCk = { pairForced = true; pairDelta.localCheckpoint(false) }
    new HammingIndex(
      () => idxSegs :+ idxCk,
      () => pairSegs :+ pairCk,
      maxDist, bands, bits, buckets,
      lineage = lineage.map(l => l.copy(
        ideltas = l.ideltas :+ (() => idxCk),
        pdeltas = l.pdeltas :+ (() => if (pairForced) pairCk else pairDelta))))
  }

  /** Commit under `path` ([[graft.ops.SegmentedArtifact.commit]]): a
    * handle whose lineage roots here emits only its unwritten index +
    * pair deltas (one segment pair per commit); otherwise the full
    * state as one segment pair. Returns the COMMITTED view (segments
    * re-opened from the files just written — equal to an immediate
    * [[HammingIndex.read]], spec-pinned).
    */
  def write(path: String, batchId: Option[Long] = None,
            retain: Int = 1,
            store: graft.ops.PointerStore =
              graft.ops.PointerStore.File): HammingIndex = {
    import HammingIndex.{Idx, Prs}
    val lin = lineage.filter(_.base.root == path)
    val puts = lin match {
      case Some(l) if l.ideltas.nonEmpty => Seq(
        Idx -> (() => union(l.ideltas.map(_()))),
        Prs -> (() => union(l.pdeltas.map(_()))))
      case Some(_) => Nil
      case None => Seq(Idx -> (() => union(idxSegs)), Prs -> (() => pairs))
    }
    HammingIndex.at(SparkSession.active, HammingIndex.Spec.commit(path, store,
      retain, lin.map(_.base), batchId,
      Map("maxDist" -> maxDist.toString, "bands" -> bands.toString,
        "bits" -> bits.toString, "buckets" -> buckets.toString), puts))
  }
}

object HammingIndex {

  /** Index format identifier — a refresh against an artifact banded
    * under a different scheme must fail loudly, never miss pairs.
    */
  val FormatVersion = "hamming/v1"

  private val Idx = Family("isegs", "i", Bucketed("bkey"))
  private val Prs = Family("psegs", "p")
  private[graft] val Spec = new graft.ops.SegmentedArtifact(
    "HammingIndex", "fmt", FormatVersion, Seq(Idx, Prs))

  /** `base`: the committed version the handle was read from; the
    * deltas are the refreshes applied since.
    */
  private[ext] final case class Lineage(base: Version,
                                        ideltas: Seq[() => DataFrame],
                                        pdeltas: Seq[() => DataFrame])

  /** The banded index projection of a fingerprint frame — bkey per
    * (item, band) via the ONE shared [[Dedup.hammingBandKeys]].
    */
  private[ext] def banded(fps: DataFrame, bands: Int, bits: Int): DataFrame =
    fps.select(
      explode(Dedup.hammingBandKeys(col("fp"), bands, bits)).as("bkey"),
      col("doc_id"), col("fp"))

  /** Cross pairs of a banded batch against each stored segment:
    * bucket-colocated equi-join on `bkey` (the stored side reads its
    * bucket files with zero Exchange — plan-audited), exact
    * `bit_count` post-filter, least/greatest orientation, multi-band
    * collapse. None when nothing is stored yet.
    */
  private[ext] def crossPairs(batchBanded: DataFrame,
                              segs: Seq[DataFrame],
                              maxDist: Int): Option[DataFrame] =
    segs.map { seg =>
      batchBanded
        .select(col("bkey"), col("doc_id").as("xa"), col("fp").as("fa"))
        .join(seg.select(col("bkey"), col("doc_id").as("xb"),
          col("fp").as("fb")), Seq("bkey"))
        .select(
          least(col("xa"), col("xb")).as("da"),
          greatest(col("xa"), col("xb")).as("db"),
          bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long")
            .as("hamming"))
        .filter(col("da") < col("db") && col("hamming") <= maxDist)
    }.reduceOption(_.unionByName(_))
      .map(_.distinct()) // multi-band matches collapse (per stored item)

  /** Build the initial index from the day-1 fingerprint frame
    * (`doc_id`, `fp`).
    */
  def build(fps: DataFrame, maxDist: Int, bands: Int = 4, bits: Int = 64,
            buckets: Int = 32): HammingIndex = {
    require(bits % bands == 0, "bands must divide bits")
    require(maxDist < bands,
      s"pigeonhole recall guarantee needs maxDist < bands ($maxDist >= $bands)")
    val batch = fps.select(col("doc_id"), col("fp"))
    new HammingIndex(
      () => Seq(banded(batch, bands, bits)),
      () => Seq(Dedup.simhashHammingPairs(batch, maxDist, bands, bits)),
      maxDist, bands, bits, buckets)
  }

  /** Re-open the LATEST committed version (the shared versioned-pointer
    * reader contract — see [[DupGraph.read]]).
    */
  def read(spark: SparkSession, path: String,
           store: graft.ops.PointerStore =
             graft.ops.PointerStore.File): HammingIndex =
    at(spark, Spec.open(path, store))

  private[graft] def at(spark: SparkSession, c: Version): HammingIndex =
    new HammingIndex(
      () => Spec.segments(spark, c, Idx), () => Spec.segments(spark, c, Prs),
      maxDist = c("maxDist").toInt, bands = c("bands").toInt,
      bits = c("bits").toInt, buckets = c.buckets,
      lineage = Some(Lineage(c, ideltas = Nil, pdeltas = Nil)))

  /** True iff a complete committed version exists at `path`. */
  def exists(path: String,
             store: graft.ops.PointerStore =
               graft.ops.PointerStore.File): Boolean =
    Spec.exists(path, store)

  /** The last streaming batch id folded into the committed index
    * ([[DupGraph.lastBatchId]]'s replay-guard contract).
    */
  def lastBatchId(path: String,
                  store: graft.ops.PointerStore =
                    graft.ops.PointerStore.File): Option[Long] =
    Spec.lastBatchId(path, store)

  /** Fold both segment families back to one each
    * ([[graft.ops.SegmentedArtifact.compact]]). `rebucket` re-lays the
    * folded index segment at a new bucket count — THE way to widen the
    * bucket space for a grown corpus (a refresh-time `buckets` change
    * is ignored by contract: refresh segments must join the committed
    * bucket space).
    */
  def compact(spark: SparkSession, path: String, retain: Int = 1,
              rebucket: Option[Int] = None,
              store: graft.ops.PointerStore =
                graft.ops.PointerStore.File): Unit =
    Spec.compact(path, retain, store,
      params = rebucket.map(b => "buckets" -> b.toString).toMap,
      force = c => rebucket.exists(_ != c.buckets)) { c =>
      Seq(Idx -> (() => Spec.folded(spark, c, Idx)),
        Prs -> (() => Spec.folded(spark, c, Prs)))
    }
}
