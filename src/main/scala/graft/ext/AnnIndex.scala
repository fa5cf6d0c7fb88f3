package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SegmentedArtifact.{Family, OneFile, PartitionedBy, Version,
  union}
import graft.ops.Windows

/** Durable IVF-PQ ANN index — the production lifecycle around
  * [[Similarity]]'s in-plan components ([[Similarity.kmeansRefine]],
  * [[Similarity.pqTrain]], [[Similarity.ivfPqTopK]]): train ONCE,
  * commit versioned, serve every query from the artifact, fold new
  * vectors in incrementally. The suite queries (q_ann_ivfpq,
  * q_ivfpq_recall) retrain inside their plans because each is
  * contractually self-contained; a serving pipeline must not — at
  * 100 TB the corpus encode is the dominant cost and the codes table
  * is the only corpus-sized artifact, so re-deriving either per query
  * (or per ingest) is the same tax the dup-graph lifecycle exists to
  * avoid.
  *
  * ==Artifact layout==
  * `path/segments/n<v>/` (icell, cv, cn) and `path/segments/b<v>/`
  * (s, cid, cv) are the catalog-sized (k·dim doubles) centroid and
  * codebook tables — written ONCE per train generation and referenced
  * by every ingest commit of that generation via the manifest's
  * `centseg`/`pqseg` keys (frozen between retrains, so a refresh
  * commit pays zero catalog jobs); `path/segments/c<v>/` holds the
  * corpus CODE segments — (vec_id, icell, s, cid), m rows per vector,
  * PARTITIONED BY `icell` so a probe-restricted query prunes unprobed
  * cells at the directory level. Commits go through
  * [[graft.ops.SegmentedArtifact]]: a [[refresh]]ed index written back
  * to its root emits ONLY the new batch's code segment.
  *
  * ==Determinism contract==
  * Encoding is a pure per-vector function of (vector, centroids,
  * codebooks): IVF assignment ties break on cell id, PQ assignment on
  * code id — no row interacts with any other. Hence
  * `refresh(b).codes == encode(a ∪ b)` EXACTLY (AnnIndexSpec pins it),
  * and [[search]] over a refreshed artifact equals
  * [[Similarity.ivfPqTopK]] over the union corpus with the same
  * trained inputs, at any nprobe.
  *
  * ==Scale posture==
  * Query-time IO is the probed cells' code rows only (directory-level
  * partition pruning via the broadcast probe join) — corpus VECTORS
  * are read exactly once per vector's lifetime, at encode. Centroids,
  * codebooks, probe frames, and ADC LUTs all broadcast. Per-segment
  * candidate joins keep pruning effective across ingests; segment
  * count grows one per batch until [[AnnIndex.compact]].
  */
final class AnnIndex private[ext] (
    val centroids: DataFrame, // (icell, cv, cn) — IVF cells
    val pqCent: DataFrame, // (s, cid, cv) — PQ codebooks
    mkCodeSegs: () => Seq[DataFrame], // (vec_id, icell, s, cid) per segment
    val m: Int,
    val subDim: Int,
    private[ext] val lineage: Option[AnnIndex.Lineage] = None) {

  /** Corpus code segments — one per ingested batch for a stored index
    * (every vector's m code rows live wholly inside its arrival
    * segment, so per-segment probe joins are complete).
    */
  private[ext] lazy val codeSegs: Seq[DataFrame] = mkCodeSegs()

  /** The full code table (union view of [[codeSegs]]). */
  lazy val codes: DataFrame = union(codeSegs)

  /** IVF-PQ top-k from the artifact: probe each query's `nprobe`
    * nearest cells, ADC-score ONLY the probed cells' code rows (the
    * stored `icell` makes the corpus-side assignment pass of
    * [[Similarity.ivfPqTopK]] unnecessary — that is the artifact's
    * point), rank exact-BIGINT micro scores with ties on vec_id.
    * `queries` is a [[Similarity.withNorm]] frame (vec_id, v, nm).
    * Output (qid, vec_id, rnk, score) matches ivfPqTopK bit-for-bit.
    */
  def search(queries: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    val probes = Windows.findFirstK(
      queries.select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nm").as("qn"))
        .crossJoin(broadcast(centroids))
        .select(col("qid"), col("icell"),
          Similarity.cosinePre(
            Similarity.dot(col("qv"), col("cv")), col("qn"), col("cn"))
            .as("pcos")),
      keys = Seq(col("qid")),
      priority = Seq(col("pcos").desc, col("icell")),
      k = nprobe, rankName = "__pr")
      .select(col("qid"), col("icell"))
    val lut = queries.select(col("vec_id").as("qid"), col("v").as("qv"))
      .crossJoin(broadcast(pqCent))
      .select(col("qid"), col("s"), col("cid"),
        floor(Similarity.dot(
          slice(col("qv"), col("s") * subDim + 1, lit(subDim)), col("cv"))
          * 1000000L + 0.5).cast("long").as("d"))
    // per-segment probe joins: each partitioned segment scan prunes to
    // the probed icell dirs under the broadcast join (dynamic partition
    // pruning); the union is of candidate-sized frames, never corpus
    val cand = union(codeSegs.map(seg =>
        seg.join(broadcast(probes), Seq("icell"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), col("s"), col("cid"))))
    val scored = cand
      .join(broadcast(lut), Seq("qid", "s", "cid"))
      .groupBy("qid", "vec_id")
      .agg(sum("d").as("score"))
    Windows.findFirstK(scored,
      keys = Seq(col("qid")),
      priority = Seq(col("score").desc, col("vec_id")),
      k = k, rankName = "rnk")
      .select(col("qid"), col("vec_id"), col("rnk").cast("long").as("rnk"),
        col("score"))
  }

  /** Fold a new vector batch in WITHOUT retraining: assign + encode
    * with the artifact's frozen centroids/codebooks
    * ([[AnnIndex.encode]] — pure per-vector, so incremental == full
    * re-encode exactly). Ids must be disjoint from the stored corpus
    * (append-only ingest, the [[Dedup.refreshDupGraph]] rule). Retrain
    * (a fresh [[AnnIndex.train]]) when [[Similarity.kmeansInertia]]
    * says the frozen cells have drifted from the data.
    */
  def refresh(newVectors: DataFrame): AnnIndex = {
    val delta = AnnIndex.encode(newVectors, centroids, pqCent, m, subDim)
    // The SEARCH path checkpoints the delta so repeated actions on an
    // un-committed refreshed handle materialize the batch encode once
    // (the NoveltyIndex.update discipline) — but LAZILY, inside the
    // segment closure: even constructing a lazy checkpoint costs ~0.5 s
    // of driver-side physical planning + codegen compilation (measured,
    // not data), which the refresh→write fast path must not pay. write()
    // evaluates the plan exactly once into the segment file; its
    // returned committed view re-opens from disk, so the recommended
    // lifecycle never encodes twice. The lineage closure hands write()
    // the checkpointed frame IF anything already forced it (a chained
    // refresh or a handle search built plans over it — going back to
    // the raw plan there would evaluate the encode twice), else the
    // raw plan.
    @volatile var ckForced = false
    lazy val deltaCk = { ckForced = true; delta.localCheckpoint(false) }
    new AnnIndex(centroids, pqCent, () => codeSegs :+ deltaCk, m, subDim,
      lineage = lineage.map(l => l.copy(deltas =
        l.deltas :+ (() => if (ckForced) deltaCk else delta))))
  }

  /** Commit the index under `path`
    * ([[graft.ops.SegmentedArtifact.commit]]). An index whose
    * [[lineage]] roots at this same `path` commits ONLY its unwritten
    * deltas — per-batch commit bytes follow the batch (m code cells
    * per new vector), not the corpus — and REUSES the stored
    * centroid/codebook segments (frozen between retrains, so an ingest
    * commit pays zero catalog jobs). A fresh train writes code and both
    * catalogs concurrently.
    *
    * Returns the COMMITTED view of the artifact: the same catalog
    * frames, code segments re-opened from the files just written
    * (partition-pruned like any read), no pending deltas — equal to an
    * immediate [[AnnIndex.read]] (spec-pinned), so a refresh→serve
    * pipeline skips the re-open round trip.
    *
    * `retain` flows to the pointer commit: a write that is the SECOND
    * commit of one streaming fold — an in-fold [[AnnIndex.retrain]]
    * after the ingest commit — must pass `retain = 2` so a
    * fold-current reader still resolves complete segments.
    */
  def write(path: String, batchId: Option[Long] = None,
            retain: Int = 1,
            store: graft.ops.PointerStore =
              graft.ops.PointerStore.File): AnnIndex = {
    import AnnIndex.{Cent, Code, Pq}
    val lin = lineage.filter(_.base.root == path)
    val puts = lin match {
      case Some(l) if l.deltas.nonEmpty =>
        Seq(Code -> (() => union(l.deltas.map(_()))))
      case Some(_) => Nil
      case None => Seq(Code -> (() => codes), Cent -> (() => centroids),
        Pq -> (() => pqCent))
    }
    val c = AnnIndex.Spec.commit(path, store, retain, lin.map(_.base),
      batchId, Map("m" -> m.toString, "subDim" -> subDim.toString), puts)
    new AnnIndex(centroids, pqCent,
      () => AnnIndex.codeSegments(centroids.sparkSession, c), m, subDim,
      lineage = Some(AnnIndex.Lineage(c, deltas = Nil)))
  }
}

object AnnIndex {

  /** Index format identifier persisted in every version manifest — a
    * refresh/serve against an artifact encoded under a different
    * scheme must fail loudly, never score garbage.
    */
  val FormatVersion = "ivfpq/v1"

  /** Code segments per ingest; catalog segments per train generation,
    * shared by every ingest commit of that generation.
    */
  private val Code = Family("csegs", "c", PartitionedBy("icell"))
  private val Cent = Family("centseg", "n", OneFile)
  private val Pq = Family("pqseg", "b", OneFile)
  private[graft] val Spec = new graft.ops.SegmentedArtifact(
    "AnnIndex", "fmt", FormatVersion, Seq(Code, Cent, Pq))

  private[ext] final case class Lineage(base: Version,
                                        deltas: Seq[() => DataFrame])

  private def codeSegments(spark: SparkSession, c: Version): Seq[DataFrame] =
    Spec.segments(spark, c, Code).map(
      // partitionBy wrote icell as a directory column — restore the
      // stored column order AND the bigint type (partition inference
      // may narrow small cell ids to int, which would miscompile the
      // probe join's key comparison)
      _.select(col("vec_id"), col("icell").cast("long").as("icell"),
        col("s"), col("cid")))

  /** Train the artifact: `lloydIters` spherical-k-means passes over
    * seeded IVF centroids ([[Similarity.kmeansRefine]] — exact
    * fixed-point arithmetic, deterministic trajectory), PQ codebooks
    * via [[Similarity.pqTrain]], then one corpus [[encode]]. `corpus`
    * is a [[Similarity.withNorm]] frame (vec_id, v, nm); seed
    * predicates follow the suite's sampling convention and MUST select
    * non-empty sets — enforced here with a loud failure, because an
    * empty seed frame flows silently through kmeansRefine/pqTrain into
    * empty centroid/codebook tables, and an artifact committed from
    * those "works" while every encode and search returns zero rows
    * forever (the cross join against an empty broadcast side).
    */
  def train(corpus: DataFrame, m: Int, subDim: Int,
            ivfSeedPred: Column = col("vec_id") % 100 === 0,
            pqSeedPred: Column = col("vec_id") % 100 === 0,
            lloydIters: Int = 2): AnnIndex = {
    def nonEmpty(seeds: DataFrame, what: String): Unit =
      require(!seeds.isEmpty,
        s"AnnIndex.train: $what selected no corpus rows — an empty seed " +
          "set trains empty centroids/codebooks and every later encode/" +
          "search silently returns nothing. Pass a predicate that " +
          "matches this corpus's id space (e.g. isin over sampled ids).")
    // one seed frame per predicate, shared by the guard (a limit-1
    // probe) and the trainer — not two filter evaluations
    val ivfSeeds = corpus.filter(ivfSeedPred)
    // The four train-time legs are independent: two limit-1 seed
    // probes (tiny jobs) and two lazy-checkpoint constructions whose
    // cost is DRIVER-side physical planning + whole-stage codegen
    // compilation (~0.5 s each — measured, not data). Serialized they
    // are the largest rung of the commit ladder; run them concurrently
    // (the shared corpus plan is immutable; Janino compiles on
    // independent threads).
    var cent: DataFrame = null
    var pq: DataFrame = null
    graft.ops.Staging.parJobs(
      () => nonEmpty(ivfSeeds, "ivfSeedPred"),
      () => nonEmpty(corpus.filter(pqSeedPred), "pqSeedPred"),
      () => cent = Similarity.centroidFrame(
        Similarity.kmeansRefine(corpus, ivfSeeds, lloydIters))
        .select(col("cid").as("icell"), col("cv"), col("cn"))
        .localCheckpoint(false),
      () => pq = Similarity.pqTrain(corpus, m, subDim, pqSeedPred)
        .localCheckpoint(false))
    val codes = encode(corpus, cent, pq, m, subDim)
    new AnnIndex(cent, pq, () => Seq(codes), m, subDim)
  }

  /** Deterministic per-vector encoding against FROZEN artifacts: IVF
    * cell = argmax cosine over broadcast centroids (ties on icell), PQ
    * code per subspace via [[Similarity.pqAssign]] (ties on cid).
    * Returns (vec_id, icell, s, cid) — m rows per vector. Pure in the
    * vector: no row depends on any other, which is what makes
    * incremental ingest exactly equal to a full re-encode.
    */
  def encode(vectors: DataFrame, centroids: DataFrame, pqCent: DataFrame,
             m: Int, subDim: Int): DataFrame = {
    val asg = Windows.findFirst(
      vectors.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("icell"),
          Similarity.cosinePre(
            Similarity.dot(col("v"), col("cv")), col("nm"), col("cn"))
            .as("ccos")),
      keys = Seq(col("vec_id")),
      priority = Seq(col("ccos").desc, col("icell")))
      .select(col("vec_id"), col("icell"))
    Similarity.pqAssign(Similarity.pqSubvectors(vectors, m, subDim), pqCent)
      .select(col("vec_id"), col("s"), col("cid"))
      .join(asg, Seq("vec_id"))
      .select(col("vec_id"), col("icell"), col("s"), col("cid"))
  }

  /** Re-open the LATEST committed version. Parameters come from the
    * manifest; a format mismatch fails loudly. The usual
    * versioned-pointer reader-lifetime contract applies
    * ([[DupGraph.read]]).
    */
  def read(spark: SparkSession, path: String,
           store: graft.ops.PointerStore =
             graft.ops.PointerStore.File): AnnIndex =
    at(spark, Spec.open(path, store))

  private[graft] def at(spark: SparkSession, c: Version): AnnIndex =
    new AnnIndex(
      spark.read.parquet(Spec.segDir(c.root, c(Cent.key))),
      spark.read.parquet(Spec.segDir(c.root, c(Pq.key))),
      () => codeSegments(spark, c),
      m = c("m").toInt, subDim = c("subDim").toInt,
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

  /** Retrain the artifact at `path` from the current corpus VECTORS
    * (supplied by the caller — PQ codes are lossy, so the vectors come
    * back from the lake, not from the artifact) and commit the result
    * as a FULL new generation: fresh centroids/codebooks + one code
    * segment over `corpus`, replacing the frozen-artifact lineage.
    * `m`/`subDim` come from the stored manifest (they are the
    * artifact's code-space identity; changing them is a new artifact),
    * and the manifest's streaming `batchId` is PRESERVED so a
    * [[graft.streaming.StreamingAnn]] maintenance loop continues
    * uninterrupted across the retrain. Search continuity is the
    * versioned-pointer contract: a reader that resolved the old
    * version keeps complete (old-generation) segments for `retain`
    * commits; new readers serve the new generation. Trigger: watch
    * [[graft.streaming.StreamingAnn.maintain]]'s `onInertia` signal
    * for per-batch drift below the train-time inertia.
    *
    * Returns the COMMITTED view ([[AnnIndex!.write]]'s rule — equal to
    * an immediate [[read]], spec-pinned): a retrain→serve pipeline
    * serves from the returned handle instead of paying a fourth
    * re-open (manifest + catalog footer reads + fresh catalog plans;
    * the returned handle keeps the already-checkpointed catalog
    * frames).
    */
  def retrain(spark: SparkSession, path: String, corpus: DataFrame,
              ivfSeedPred: Column = col("vec_id") % 100 === 0,
              pqSeedPred: Column = col("vec_id") % 100 === 0,
              lloydIters: Int = 2, retain: Int = 1,
              store: graft.ops.PointerStore =
                graft.ops.PointerStore.File): AnnIndex = {
    val c = Spec.open(path, store)
    train(corpus, c("m").toInt, c("subDim").toInt,
      ivfSeedPred, pqSeedPred, lloydIters)
      .write(path, batchId = c.batchId, retain = retain, store = store)
  }

  /** Fold a multi-segment artifact back to one code segment
    * ([[graft.ops.SegmentedArtifact.compact]]); the catalog segments
    * carry forward (frozen between retrains).
    */
  def compact(spark: SparkSession, path: String, retain: Int = 1,
              store: graft.ops.PointerStore =
                graft.ops.PointerStore.File): Unit =
    Spec.compact(path, retain, store) { c =>
      Seq(Code -> (() => union(codeSegments(spark, c))))
    }
}
