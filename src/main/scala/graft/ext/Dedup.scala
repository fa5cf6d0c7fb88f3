package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.TextHash._
import graft.ops.SegmentedArtifact.{Bucketed, Family, Version, union}

/** Large-scale document deduplication operators ([EXT]).
  *
  * Scale design (100 TB posture):
  *  - exact: one hash-shuffle on the text key (map-side partial agg).
  *  - MinHash+LSH: per-doc signatures are computed in a single
  *    projection (no shuffle); candidate generation shuffles only
  *    (band, bandKey) buckets, never all pairs; pair verification is
  *    an equi-join on bucket keys. Pair count scales with the number
  *    of true near-dups, not n^2.
  *  - SimHash: one explode + hash-agg; fingerprints are compact ints
  *    that can be range-bucketed for hamming search.
  *  - n-gram Jaccard: candidate pairs via shared-shingle equi-join
  *    (inverted index in dataflow form), so cost follows shingle
  *    collisions, not n^2.
  */
object Dedup {

  /** The session's configured shuffle parallelism — the explicit
    * partition count for the pair family's band/shingle-key exchanges.
    * Why explicit: those frames are bytes-SMALL (keys + 8-byte hashes)
    * but feed bucket self-joins whose OUTPUT is the candidate-pair
    * mass, and AQE's parallelism-first coalescing sizes partitions
    * from input bytes — it folds the explosive join into 1-2 tasks
    * (measured 2x wall on q_simhash_pairs at sf0.1). Deriving the
    * count from `spark.sql.shuffle.partitions` keeps it scale-adaptive
    * (the bench sets it to the core count; a cluster sets its own),
    * never a local-mode constant.
    */
  private def shufflePartitions(df: DataFrame): Int =
    scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact dedup: one survivor (min id) per identical text.
    * 100 TB note: for long texts, group on a digest (md5(text)) instead
    * of raw text to shrink shuffle width — exactness is unchanged.
    */
  def exact(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.groupBy(md5(text).as("text_md5"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature: k columns h0..h(k-1) over word-3-gram
    * shingles.
    *
    * Pure projection via the fused native kernel
    * (graft.functions.MinHashSig): one md5 + k arithmetic mins per
    * shingle inside a single codegen'd loop — no explode (the previous
    * shape shuffled one row per shingle through a hash aggregation),
    * and no k-fold hash recompute (whole-stage codegen's subexpression
    * elimination evaluates the shared signature once across the k
    * column extracts). Docs with < 3 tokens have no shingles -> null
    * signature -> dropped, matching the explode formulation.
    */
  def minhashSignature(docs: DataFrame, text: Column, id: Column, k: Int): DataFrame = {
    require(k <= Params.size, s"only ${Params.size} hash params defined")
    val sig = graft.functions.HashFunctions.minhashSig(
      graft.functions.HashFunctions.shingleHash48(text, 3), Params.take(k))
    // cheap pre-filter (token count) instead of a post-filter on the
    // signature: a null-check on __sig would cost one extra full
    // signature evaluation per row in the Filter operator
    docs.filter(size(tokens(text)) >= 3)
      .select(id.as("doc_id"), sig.as("__sig"))
      .select(col("doc_id") +:
        (0 until k).map(i => col("__sig").getItem(i).as(s"h$i")): _*)
  }

  /** LSH candidate pairs + signature-estimated similarity.
    * Bands the k-wide signature into `bands` groups of k/bands rows;
    * docs sharing any band key become candidates; estimated similarity
    * = fraction of agreeing signature components.
    */
  def minhashLshPairs(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val (banded, keyCols) = bandedSignature(sig, k, bands)
    // pinned-width band-key exchange — the simhashHammingPairs rule
    // (bytes-small banded frame, explosive bucket self-join)
    bandSelfJoinPairs(
      banded.repartition(shufflePartitions(sig), keyCols.map(col): _*),
      keyCols, k)
  }

  /** [[minhashLshPairs]] with a per-bucket skew guard for adversarial
    * corpora. A pathological band key — e.g. a boilerplate shingle set
    * shared by millions of near-identical documents — makes ONE bucket
    * hold the whole corpus, and the band self-join goes quadratic in
    * that bucket no matter how the join is planned (DedupSpec's
    * degenerate-corpus property pins the blowup). Buckets larger than
    * `maxBucket` are excluded from pair generation and REPORTED in the
    * second frame (band key + bucket size), never silently dropped:
    * the caller routes those documents through exact dedup (identical
    * boilerplate IS exact-duplicate content) or re-bands with longer
    * band keys. Cost: the bucket-size window rides the same band-key
    * exchange the join needs — no extra data-sized shuffle.
    *
    * Returns (pairs from buckets <= maxBucket, overflow audit frame).
    */
  def minhashLshPairsBounded(sig: DataFrame, k: Int, bands: Int,
      maxBucket: Long): (DataFrame, DataFrame) = {
    val (banded0, keyCols) = bandedSignature(sig, k, bands)
    // pinned BEFORE the bucket-size window: the window, the overflow
    // rollup, and the self-join all cluster on the band key, so the one
    // explicit exchange serves all three (zero added shuffles)
    val banded = banded0.repartition(
      shufflePartitions(sig), keyCols.map(col): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val sized = banded.withColumn("__bsz", count(lit(1)).over(w))
    val kept = sized.filter(col("__bsz") <= maxBucket).drop("__bsz")
    val overflow = sized.filter(col("__bsz") > maxBucket)
      .groupBy(keyCols.map(col): _*) // rides the window's partitioning
      .agg(max(col("__bsz")).as("bucket_rows"))
    (bandSelfJoinPairs(kept, keyCols, k), overflow)
  }

  /** Dedup impact by source: per source, docs and token mass
    * before/after min-id survivor dedup plus the doc loss in exact
    * bps — the "which domains are duplicated" QA that decides whether
    * a source's mixing quota should be priced pre- or post-dedup (a
    * mirror-heavy source's raw token count wildly overstates its
    * usable mass; this table is what q_corpus_mix should read instead
    * of raw counts on a duplicated crawl).
    *
    * Scale posture: one pair enumeration + contraction (the
    * q_dedup_corpus cost class — compose via [[dupGraph]] when other
    * consumers share the run), then one cluster-table join and a
    * domain-sized rollup; the kept flag never materializes a second
    * corpus.
    */
  def dedupBySource(docs: DataFrame, text: Column, id: Column,
                    source: Column): DataFrame = {
    val clusters = connectedComponents(
      ngramJaccardPairs(docs, text, id, n = 3, threshold = 0.5))
    val c = clusters.withColumnRenamed("doc_id", "__n")
    docs.select(id.as("doc_id"), source.as("source"),
        when(text.isNull, 0L)
          .otherwise(size(split(text, " ")).cast("long")).as("n_tok"))
      .join(c, col("doc_id") === col("__n"), "left")
      .withColumn("kept",
        col("cluster_id").isNull || col("doc_id") === col("cluster_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum("n_tok").as("n_tok"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tok_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        floor((col("n_docs") - col("n_kept")) * lit(10000L) /
          col("n_docs")).cast("long").as("lost_bps"),
        col("n_tok"), col("tok_kept"))
  }

  /** b-bit minhash pairs (Li–König, "b-Bit Minwise Hashing"): the same
    * banded candidate generation as [[minhashLshPairs]], but similarity
    * estimated from only the LOW `b` bits of each signature component,
    * with the published collision correction
    * Ĵ = (p̂ − c)/(1 − c), c = 2^−b (p̂ = matching-low-bits fraction) —
    * the storage story for planet-scale signatures: a k=8 × 48-bit
    * signature shrinks 6× at b=8 while the estimator stays unbiased,
    * which is what makes shipping per-doc sketches to every ingest
    * site affordable. Emitted beside the full-width estimate so the
    * query IS the accuracy eval (the L51/L56 harness class): both
    * estimates in exact µ-units (floor quantization — deterministic
    * for the negative values the corrected estimator can produce,
    * where decimal rounding modes differ across engines).
    *
    * Scale posture: identical to [[minhashLshPairs]] — one banded
    * exchange reused by both sides, cost follows band collisions; the
    * masking is free in-row arithmetic.
    */
  def bbitMinhashPairs(sig: DataFrame, k: Int, bands: Int,
                       b: Int): DataFrame = {
    require(b >= 1 && b < 48, s"b must be in [1, 47]: $b")
    val (banded, keyCols) = bandedSignature(sig, k, bands)
    val mask = (1L << b) - 1
    val a = banded.select(keyCols.map(col) ++
      Seq(col("doc_id").as("da")) ++
      (0 until k).map(i => col(s"h$i").as(s"a$i")): _*)
    val bb = banded.select(keyCols.map(col) ++
      Seq(col("doc_id").as("db")) ++
      (0 until k).map(i => col(s"h$i").as(s"b$i")): _*)
    val matchesFull = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val matchesB = (0 until k)
      .map(i => when(col(s"a$i").bitwiseAND(lit(mask)) ===
        col(s"b$i").bitwiseAND(lit(mask)), 1).otherwise(0))
      .reduce(_ + _)
    val c = 1.0 / (1L << b)
    a.join(bb.hint("shuffle_hash"), keyCols)
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        floor(matchesFull.cast("double") / lit(k.toDouble) * 1e6 + 0.5)
          .cast("long").as("est_full_micro"),
        floor((matchesB.cast("double") / lit(k.toDouble) - lit(c)) /
          lit(1.0 - c) * 1e6 + 0.5).cast("long").as("est_b_micro"))
      .distinct()
  }

  /** INCREMENTAL near-dup: candidate pairs between a NEW batch and an
    * existing corpus — the asymmetric form of [[minhashLshPairs]], and
    * the operation a daily-ingest pipeline actually runs (today's
    * documents against everything already kept; a full-corpus
    * self-join per ingest would be quadratic in corpus AGE). Output:
    * (da = new-side id, db = corpus-side id, est_sim). Same banded
    * equi-join and cost model — work follows band collisions between
    * the two sets, never |new| × |corpus|. The new side is typically
    * orders of magnitude smaller, so Spark may broadcast it; both
    * shapes are correct here since the sides are DIFFERENT frames (no
    * self-join exchange to reuse). Ids present in both frames pair
    * with themselves (est_sim 1); dedup the inputs first if that is
    * not wanted.
    */
  def minhashLshPairsAgainst(newSig: DataFrame, corpusSig: DataFrame,
                             k: Int, bands: Int): DataFrame = {
    val (bn, keyCols) = bandedSignature(newSig, k, bands)
    val (bc, _) = bandedSignature(corpusSig, k, bands)
    val a = bn.select(keyCols.map(col) ++ Seq(col("doc_id").as("da")) ++
      (0 until k).map(i => col(s"h$i").as(s"a$i")): _*)
    val b = bc.select(keyCols.map(col) ++ Seq(col("doc_id").as("db")) ++
      (0 until k).map(i => col(s"h$i").as(s"b$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, keyCols)
      .select(col("da"), col("db"),
        (matches.cast("double") / lit(k.toDouble)).as("est_sim"))
      .distinct()
  }

  /** Banded signature rows: one row per (doc, band) with the band key
    * exploded into join columns. Band keys stay numeric: the join key
    * is (band, h_i..h_j) as long columns — equality semantics identical
    * to a concatenated string key at 8 bytes per component. The full
    * signature rides along so the similarity estimate is computed
    * in-row at the band join; the alternative (re-joining the signature
    * table per side) costs two more shuffles and — worse — makes every
    * consumer a differently-pruned subplan that AQE cannot reuse, so
    * the whole signature computation would run once per consumer.
    */
  private def bandedSignature(sig: DataFrame, k: Int,
      bands: Int): (DataFrame, Seq[String]) = {
    val rows = k / bands
    require(bands * rows == k, "bands must divide k")
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band") +:
        (0 until rows).map(r => col(s"h${b * rows + r}").as(s"k$r")): _*)
    }
    val keyCols = "band" +: (0 until rows).map(r => s"k$r")
    val banded = sig
      .select(col("doc_id") +: (0 until k).map(i => col(s"h$i")) :+
        explode(array(bandStructs: _*)).as("bk"): _*)
      .select(Seq(col("doc_id")) ++ (0 until k).map(i => col(s"h$i")) ++
        keyCols.map(c => col(s"bk.$c").as(c)): _*)
    (banded, keyCols)
  }

  /** Candidate pairs from a banded-signature frame.
    *
    * Two identical (canonically equal) sides -> one shuffle, one
    * ReusedExchange; est_sim is signature-determined, so distinct over
    * (da, db, est_sim) dedups multi-band matches exactly like a
    * candidates-then-verify pipeline would.
    */
  private def bandSelfJoinPairs(banded: DataFrame, keyCols: Seq[String],
      k: Int): DataFrame = {
    val a = banded.select(keyCols.map(col) ++
      Seq(col("doc_id").as("da")) ++ (0 until k).map(i => col(s"h$i").as(s"a$i")): _*)
    val b = banded.select(keyCols.map(col) ++
      Seq(col("doc_id").as("db")) ++ (0 until k).map(i => col(s"h$i").as(s"b$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    // shuffle-hash, not broadcast: a broadcast build side would compute
    // the banded-signature subplan a second time into the broadcast
    // exchange; shuffling both (identical) sides on the band key lets
    // AQE reuse one exchange — and at scale the banded table is never
    // broadcastable anyway (same reasoning as ngramJaccardPairs)
    a.join(b.hint("shuffle_hash"), keyCols)
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        (matches.cast("double") / lit(k.toDouble)).as("est_sim"))
      .distinct()
  }

  /** Connected components over an undirected near-dup pair list
    * (columns `da`, `db`): every node's label converges to the minimum
    * doc id in its component — the cluster id a dedup pipeline keeps
    * one survivor per.
    *
    * Each round contracts the label forest in two fused star steps
    * (the alternating large-star/small-star scheme of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", made monotone on a
    * parent map):
    *   hook  (large-star): h(u)    = min(p(u), min over neighbors v of p(v))
    *   jump  (small-star): next(u) = min(h(u), p(h(u)))
    * The jump composes label paths, so label information travels a
    * doubling distance per round — O(log diameter) rounds instead of
    * the O(diameter) of plain min-label propagation. Labels are node
    * ids of the same component and only ever decrease, so "no label
    * changed this round" (observed in-job via CollectMetrics) is an
    * exact convergence test: hook-stability across every edge forces
    * labels constant per component, i.e. the component minimum.
    *
    * Each round is ONE Spark job: `localCheckpoint` materializes the
    * round (truncating lineage so round N doesn't replay 1..N-1) and
    * fills the observation in the same action. AQE is toggled off
    * (scoped, restored in `finally`) for the iterations only: the
    * per-round shuffles are fixed-shape joins on an already-sized
    * label table, where AQE's per-stage scheduling would turn each
    * round into 3-4 separate jobs — pure sync-point overhead. The
    * jump's second lookup reads the *checkpointed* previous labels, so
    * nothing in the round's plan is computed twice.
    *
    * Fault-tolerance note: `localCheckpoint` stores round state in
    * executor blocks, trading durability for speed — on executor loss
    * the query fails and the operator re-runs from its (persisted)
    * edge input. Acceptable for a bounded-round iterative operator; a
    * deployment preferring mid-operator recovery can switch to
    * reliable `checkpoint` by setting a checkpoint dir.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          localThreshold: Long = 500000L): DataFrame = {
    val spark = pairs.sparkSession
    // persist the DIRECTED pair list and derive the symmetrized edge
    // view as two cache reads — persisting the union instead evaluates
    // the (potentially expensive) caller pair plan once per branch
    // during the fill (the same shape that doubled q_pagerank's
    // fuzzy-pair fill; AQE stage reuse dedupes it only when the
    // branches' exchanges happen to match)
    val p = pairs.select(col("da"), col("db")).persist()
    val edges = p.select(col("da").as("src"), col("db").as("dst"))
      .unionAll(p.select(col("db").as("src"), col("da").as("dst")))
    // materialize BEFORE toggling AQE off: exchange reuse in an
    // arbitrary caller's pair plan may be an AQE runtime decision
    // (ngramJaccardPairs reuses statically via its explicit
    // repartition, but e.g. the MinHash band join relies on AQE stage
    // matching), and executing it lazily inside the scoped-off region
    // would lose that
    val nPairs = p.count()
    // SMALL-GRAPH FAST PATH: below `localThreshold` directed pairs the
    // whole label fixpoint fits trivially in ONE task (500k pairs ≈ a
    // few tens of MB of longs; union-find is ~instant), so the
    // multi-round hook+jump ladder — whose cost at this size is pure
    // per-round job/sync overhead, not data — collapses to a single
    // mapPartitions stage over the cached pairs plus one checkpoint
    // job. Same fixpoint by construction: union-by-min-root labels
    // every node with its component MINIMUM, exactly the ladder's
    // convergence point (and the oracle's recursive-CTE min). The
    // threshold is a genuine scale switch, not a test dodge: a banded
    // LSH pair table at 100 TB is billions of rows and takes the
    // distributed ladder; a day-2 refresh batch or a post-threshold
    // near-dup graph is typically far below it. MATCHED integral id
    // types only: string labels would need the executor to reproduce
    // Spark's UTF8 binary ordering for the min election (entity
    // resolution keeps the ladder), and mixed-width columns (int da,
    // long db) would cast the fast path's output back to the NARROW
    // side — silently wrapping 64-bit labels — where the ladder's
    // unionAll widens both; both classes fall through.
    val integralIds = {
      import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}
      val (ta, tb) = (p.schema("da").dataType, p.schema("db").dataType)
      ta == tb && (ta == LongType || ta == IntegerType || ta == ShortType)
    }
    if (nPairs <= localThreshold && integralIds)
      return try localComponents(p) finally p.unpersist()
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.get(aqeKey, "true")
    // lazy persist, not an eager checkpoint: round 0's own job fills
    // the cache (one init job fewer); lineage is shallow (one aggregate
    // over the persisted edges) so truncation isn't needed yet.
    // FUSED INIT (r13): label_0 = min(node, min neighbor) instead of
    // the identity — the first hook folded into the init aggregate (a
    // groupBy over the same exchange the old distinct() paid). Labels
    // stay component-min upper bounds, so hook+jump converges to the
    // same fixpoint; for CLIQUE-shaped components — which near-dup
    // clusters overwhelmingly are (every pair similar) — init already
    // IS the fixpoint, so the loop exits after one confirmation round
    // instead of two (one full round of join+checkpoint saved per
    // invocation across the whole contraction family).
    val labels0 = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("node"), least(col("node"), col("nbr")).as("label"))
      .persist()
    spark.conf.set(aqeKey, "false")
    try {
      var labels = labels0
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        // hook: adopt the smallest label in the closed neighborhood
        val neighborMin = edges
          .join(labels.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node")).agg(min("label").as("nbr"))
        // label-map join strategy is left to the optimizer: at sf0.1 the
        // label table is tiny and broadcast (one extra collect job per
        // round) is cheapest; at scale the stats make it a shuffle join.
        // Forcing shuffle_hash here measured ~40% slower locally for a
        // 2-job saving - wall wins over job-count optics.
        val hooked = labels.join(neighborMin, Seq("node"), "left")
          .select(col("node"), col("label"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("h"))
        // jump: follow the previous round's parent map one more step
        val parent = labels.select(col("node").as("pn"), col("label").as("pl"))
        val obs = org.apache.spark.sql.Observation(s"cc_changed_$iter")
        val updated = hooked.join(parent, col("h") === col("pn"), "left")
          .select(col("node"), col("label"),
            least(col("h"), coalesce(col("pl"), col("h"))).as("next"))
          .observe(obs,
            sum(when(col("next") < col("label"), 1L).otherwise(0L)).as("changed"))
          .select(col("node"), col("next").as("label"))
        val updatedCk = updated.localCheckpoint() // the round's single job; fills the observation
        converged = changedCount(obs, updatedCk, labels) == 0L
        if (iter == 0) labels0.unpersist() // checkpointed rounds no longer read it
        labels = updatedCk
        iter += 1
      }
      labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
    } finally {
      spark.conf.set(aqeKey, prevAqe)
      // unpersist on every exit path (idempotent): a throw mid-round
      // must not leave the pair table pinned in cache
      p.unpersist()
      labels0.unpersist()
    }
  }

  /** Single-stage label fixpoint for the small-graph fast path: the
    * cached pair table narrows (`coalesce`, no shuffle) into ONE task
    * that runs union-by-min-root union-find and emits every node with
    * its component minimum — executor-side, never a driver collect.
    * The result is eagerly checkpointed so it stays valid after the
    * caller unpersists the pair cache (the same independence contract
    * the ladder's per-round checkpoints give).
    */
  private def localComponents(p: DataFrame): DataFrame = {
    val idType = p.schema("da").dataType
    implicit val enc: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
    p.select(col("da").cast("long"), col("db").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions(unionFind)
      .toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("cluster_id").cast(idType).as("cluster_id"))
      .localCheckpoint()
  }

  /** In-task union-find with union-by-min-root + path compression:
    * every node's final root is its component's minimum id — the same
    * label [[connectedComponents]]' hook+jump ladder converges to.
    * Deterministic in the edge SET (edge order cannot change which
    * root is minimal).
    */
  private def unionFind(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    it.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keysIterator.toArray.iterator.map(n => (n, find(n)))
  }

  /** Bounded read of a round's convergence metric
    * (graft.ops.Observations); on listener loss, fall back to an exact
    * (one extra job, rare path) changed-label probe against the
    * previous round's checkpointed labels.
    */
  private[ext] def changedCount(obs: org.apache.spark.sql.Observation,
                                updated: DataFrame, prev: DataFrame,
                                timeoutMs: Long = 10000L): Long =
    graft.ops.Observations.boundedLong(obs, timeoutMs).getOrElse {
      updated.withColumnRenamed("label", "next")
        .join(prev, "node")
        .filter(col("next") < col("label")).limit(1).count()
    }

  /** Materialize-once dup-graph: candidate pairs + connected-component
    * clusters computed ONE time and shared by every downstream
    * consumer — the library API for the fan-out a real dedup pipeline
    * runs (cluster table, deduplicated corpus, quality-canonical
    * corpus, size-distribution QA all from the same graph), mirroring
    * the reference's one-scan-many-writes export shape
    * (exporter.py:97-103). Each suite query is contractually
    * independent and re-enumerates; a PIPELINE must not — at 100 TB
    * the pair enumeration (shingle index + verify join) is the
    * dominant cost and paying it once per consumer is a 4-5x tax
    * (measured: the five dup-graph suite queries share ~20 s of 78 s
    * at sf0.1 re-deriving this artifact).
    *
    * Lifecycle: `pairs` is persisted here and the one
    * [[connectedComponents]] call both fills the cache and returns a
    * checkpoint-backed `clusters` (independent of the cache), so
    * consumers never re-run the enumeration. Call [[DupGraph.unpersist]]
    * when done (clusters stay valid — their blocks are owned by the
    * checkpoint, not the cache). For cross-job sharing, write `pairs` /
    * `clusters` to parquet instead and re-read — same shape, durable.
    *
    * DedupSpec pins the contract with a scan-count accumulator audit:
    * graph-only consumers (clusters, sizes) add ZERO document-source
    * scans after the fill; corpus/canonical add exactly the one
    * corpus-sized join probe each inherently needs.
    */
  def dupGraph(docs: DataFrame, text: Column, id: Column,
               n: Int = 3, threshold: Double = 0.5): DupGraph = {
    val pairs = ngramJaccardPairs(docs, text, id, n, threshold).persist()
    // connectedComponents' own cache-fill count() evaluates through
    // this persist, so the enumeration runs exactly once. If the
    // contraction dies mid-build (executor loss, OOM) the handle that
    // owns unpersist() never exists — release the pair cache before
    // rethrowing, or it stays pinned for the session.
    val clusters = try connectedComponents(pairs) catch {
      case e: Throwable => pairs.unpersist(); throw e
    }
    // index materializes lazily (write()/refresh need it; in-session
    // consumers of pairs/clusters never pay for it)
    new DupGraph(pairs, clusters, () => Seq(shingleIndex(docs, text, id, n)),
      owned = Seq(pairs), n = n, threshold = threshold)
  }

  /** Day-2 incremental dup-graph refresh: fold a NEW batch into a
    * stored graph WITHOUT re-enumerating the stored corpus. The new
    * batch's shingle index self-joins for new-new pairs and cross-joins
    * the STORED index for new-old pairs — the stored side is read, never
    * re-derived from text — and the merged clusters come from one
    * contraction over (new pairs ∪ stored clusters-as-edges). The
    * cluster table is the transitive-closure summary of the old pairs,
    * so seeding the contraction with it yields exactly the components a
    * full rebuild on the union corpus would find, with min-id labels
    * (old cluster_id IS the min of its old component; the union
    * component's min is the min over its members) — DedupSpec pins
    * refresh == rebuild as a property.
    *
    * Contract: `newDocs` ids must be disjoint from the stored corpus
    * ids (same rule as any append-only ingest; a re-ingested id would
    * alias two shingle sets).
    *
    * Parameters come FROM the stored graph (its manifest): a refresh
    * must use the shingle width and threshold the artifact was built
    * with — mixing widths would join incompatible shingle spaces and
    * mixing thresholds would break refresh == rebuild, both silently.
    * Passing explicit `n`/`threshold` is validated against the stored
    * values and rejected on mismatch.
    *
    * Scale posture: day-2 cost is batch-index build + one co-located
    * cross join whose volume follows batch-vs-corpus shared shingles +
    * one contraction over (new pairs + cluster summary edges) — the
    * day-1 pair enumeration (the dominant cost at 100 TB) is never
    * repeated, the q_novelty_incremental discipline applied to the
    * graph.
    */
  def refreshDupGraph(stored: DupGraph, newDocs: DataFrame, text: Column,
                      id: Column, n: Int = -1,
                      threshold: Double = -1.0): DupGraph = {
    require(n == -1 || n == stored.n,
      s"refresh shingle width $n != stored graph's ${stored.n} " +
        "(mixing widths joins incompatible shingle spaces)")
    require(threshold == -1.0 || threshold == stored.threshold,
      s"refresh threshold $threshold != stored graph's ${stored.threshold} " +
        "(mixing thresholds breaks refresh == rebuild)")
    val shNew = shingleIndex(newDocs, text, id, stored.n).persist()
    // Cross pairs are computed PER STORED SEGMENT: every document's
    // shingles live wholly inside its arrival segment, so a (new, old)
    // pair's intersection count is complete within the old doc's
    // segment — the per-segment union is exact, and each bucketed
    // stored segment joins exchange-free while the batch's one shuffle
    // is shared across all of them (ReusedExchange).
    val crossPairs = stored.indexSegs
      .map(seg => jaccardFromIntersections(
        indexCrossIntersections(shNew, seg), stored.threshold))
      .reduce(_.unionByName(_))
    val newPairs = jaccardFromIntersections(indexSelfIntersections(shNew),
      stored.threshold)
      .unionByName(crossPairs)
      .persist()
    val seedEdges = stored.clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("da"), col("cluster_id").as("db"))
    val clusters = try connectedComponents(
      newPairs.select("da", "db").unionByName(seedEdges)) catch {
      case e: Throwable => newPairs.unpersist(); shNew.unpersist(); throw e
    }
    // the refreshed graph OWNS both batch caches: its `pairs` is a
    // union view unpersist() could not reach, and its index segments
    // (stored segs :+ shNew) are typically materialized by write()
    // AFTER this returns — releasing shNew here would force the whole
    // batch shingle projection to run a third time per ingest
    // cluster DELTA vs the stored view: new docs plus any old doc a
    // merge relabeled. Labels are MONOTONE non-increasing across
    // refreshes (components only grow; a grown component's min-id only
    // decreases), which is what lets the durable layout layer deltas
    // and read back with a plain min(cluster_id) per doc — no
    // last-writer bookkeeping. Lazy: only an incremental write pays it.
    val deltaCls = clusters
      .join(stored.clusters.withColumnRenamed("cluster_id", "__old"),
        Seq("doc_id"), "left")
      .filter(col("__old").isNull || col("__old") =!= col("cluster_id"))
      .select(col("doc_id"), col("cluster_id"))
    new DupGraph(stored.pairs.unionByName(newPairs), clusters,
      () => stored.indexSegs :+ shNew, owned = Seq(newPairs, shNew),
      n = stored.n, threshold = stored.threshold,
      // thread the durable ancestry through: a later write() back to
      // the same root commits ONLY these deltas as new segments
      lineage = stored.lineage.map(l => l.copy(
        deltaIdx = l.deltaIdx :+ (() => shNew),
        deltaPrs = l.deltaPrs :+ newPairs,
        deltaCls = l.deltaCls :+ deltaCls)))
  }

  /** The deduplicated corpus: every document that is either untouched
    * by the near-dup graph or the elected survivor (minimum id) of its
    * cluster. This is the end-to-end dedup decision a pipeline
    * materializes — [[connectedComponents]] output applied back to the
    * corpus. One left join against the (small, pair-graph-sized)
    * cluster table; survivors keep their cluster_id, unique docs get
    * null.
    */
  def survivors(docs: DataFrame, id: Column, clusters: DataFrame): DataFrame = {
    val c = clusters.withColumnRenamed("doc_id", "__cc_node")
    docs.join(c, id === col("__cc_node"), "left")
      .filter(col("cluster_id").isNull || id === col("cluster_id"))
      .select(id.as("doc_id"), col("cluster_id"))
  }

  /** Quality-weighted canonical selection: like [[survivors]], but each
    * cluster elects its HIGHEST-SCORING member (ties → min id) instead
    * of the lowest id — the policy a production dedup actually wants
    * ("keep the best copy, not the first-crawled one"). The score must
    * be deterministic and exactly comparable (an integer score like
    * TextAnalysis.qualityBps — a float score compared across engines
    * can flip ties; SURVEY.md §7.5).
    *
    * Scale posture: the same one left join against the pair-graph-sized
    * cluster table, then ONE corpus-wide WindowGroupLimit keyed by
    * coalesce(cluster_id, doc_id) — singleton groups for untouched
    * docs cost O(1) each under the map-side partial limit, and the
    * shuffled rows are the 24-byte (doc_id, cluster_id, score)
    * projection, never the text.
    */
  def canonicalSurvivors(docs: DataFrame, id: Column, clusters: DataFrame,
                         score: Column): DataFrame = {
    val c = clusters.withColumnRenamed("doc_id", "__cc_node")
    val joined = docs.join(c, id === col("__cc_node"), "left")
      .select(id.as("doc_id"), col("cluster_id"), score.as("score"))
    // ONE window over the whole scored frame, not a unique-filter /
    // elected-window union: the union shape consumed `joined` twice,
    // re-running the docs scan, the join, and — the expensive part —
    // the quality-score projection (a CodegenFallback HOF) once per
    // branch (the r10 q_cluster_canonical hotspot). Keying the window
    // by coalesce(cluster_id, doc_id) makes every unclustered doc its
    // own singleton group (rn = 1, kept as-is) and each cluster elect
    // its best member, in a single shuffle of 24-byte rows with
    // WindowGroupLimit's map-side partial limit. Key collision between
    // the two domains is impossible: cluster_id is the min member
    // doc_id, so that member is clustered and never appears with a
    // null cluster_id.
    graft.ops.Windows.findFirst(joined,
      keys = Seq(coalesce(col("cluster_id"), col("doc_id"))),
      priority = Seq(col("score").desc, col("doc_id")))
  }

  /** 16-bit SimHash fingerprint per doc over token hashes: bit j is set
    * when the (+1/-1) vote sum of token-hash bit j is positive.
    *
    * Pure projection via the fused native kernel
    * (graft.functions.SimHashFp): one md5 + 16 votes per token inside
    * a single codegen'd loop — no explode (the previous shape shuffled
    * one row per token through a 16-sum hash aggregation). Fingerprints
    * are bit-identical to that formulation and to the DuckDB oracle.
    * Null texts are filtered to preserve the explode semantics (a doc
    * with no token rows has no fingerprint).
    */
  def simhash16(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.filter(text.isNotNull)
      .select(id.as("doc_id"),
        graft.functions.HashFunctions.simhashFp(text, 16).as("fp"))

  /** 64-bit SimHash fingerprint per doc — the scale-real width (16-bit
    * buckets saturate on large corpora; 64 bits keeps band-bucket
    * populations Poisson-thin at billions of docs). Token bits come
    * from md5: bits 0..47 from the first 12 hex chars (the same slice
    * [[graft.ext.TextHash.baseHash]] uses), bits 48..63 from hex chars
    * 13..16; bit 63 lands on the sign bit, so the fingerprint is the
    * two's-complement BIGINT the oracle computes. Same fused-kernel
    * pure projection as [[simhash16]] — zero shuffle at any width.
    */
  def simhash64(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.filter(text.isNotNull)
      .select(id.as("doc_id"),
        graft.functions.HashFunctions.simhashFp(text, 64).as("fp"))

  /** SimHash hamming pair-search: all (da, db) whose 16-bit
    * fingerprints (`doc_id`, `fp` as produced by [[simhash16]]) differ
    * in at most `maxDist` bits, with the exact distance.
    *
    * Banding gives exact recall by pigeonhole: the fingerprint is cut
    * into `bands` equal-width keys, and two fingerprints within
    * hamming distance < bands must agree on at least one whole band —
    * so candidate generation is a per-band bucket EQUI-join (cost
    * follows bucket collisions, never n²), and the exact
    * `bit_count(fa xor fb) <= maxDist` post-filter removes false
    * candidates. The operator is width-generic: 16-bit fingerprints
    * saturate on large corpora (birthday collisions inflate buckets),
    * so at scale use [[simhash64]] with bands = 4 x 16-bit — the
    * banding math is unchanged (shifts stay <= 48, so the masked band
    * keys are sign-safe for the two's-complement fingerprint). Same
    * shuffle-hash + ReusedExchange shape as
    * [[minhashLshPairs]]: both (identical) sides shuffle on the band
    * key and AQE reuses one exchange; a broadcast build side would
    * compute the banded subplan twice and is never broadcastable at
    * scale.
    */
  /** Folded band keys of a `bits`-wide fingerprint: element b is
    * `(b << width) | the b-th width-bit slice` — ONE long join key per
    * band instead of a (band, key) composite, and THE shared bucket
    * function of the whole hamming family ([[simhashHammingPairs]] and
    * [[HammingIndex]]'s durable banded index must agree bit-for-bit or
    * refresh == rebuild silently breaks).
    */
  private[ext] def hammingBandKeys(fp: Column, bands: Int,
                                   bits: Int): Column = {
    require(bits % bands == 0, "bands must divide bits")
    val width = bits / bands
    // width == 64 would wrap `1L << 64` to 1 and collapse every band
    // key to band-tag-only — the pair search would silently degenerate
    // to an all-pairs self-join (still correct via the bit_count
    // post-filter, but the banding pruning is gone at scale)
    require(width < 64,
      s"band width $width must be < 64 (bands=$bands, bits=$bits): a " +
        "single 64-bit band has no sub-key to bucket on — use >= 2 bands")
    array((0 until bands).map { b =>
      shiftright(fp, b * width).bitwiseAND(lit((1L << width) - 1)) +
        lit(b.toLong << width)
    }: _*)
  }

  def simhashHammingPairs(fps: DataFrame, maxDist: Int,
                          bands: Int = 4, bits: Int = 16): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    require(maxDist < bands,
      s"pigeonhole recall guarantee needs maxDist < bands ($maxDist >= $bands)")
    // Pinned-width exchange on the band key (guide §2.5): the banded
    // frame is BYTES-small (8 bytes x bands per item) but the bucket
    // self-join it feeds is EXPLOSIVE — AQE's parallelism-first
    // coalescing sizes the post-shuffle partition count from the
    // input bytes and folds the whole join into 1-2 tasks (measured:
    // q_simhash_pairs ran its 3M-candidate probe single-task, wall
    // 2.1 s at taskTime/wall ≈ 2). An explicit numPartitions
    // (REPARTITION_BY_NUM) is exempt from coalescing; the count comes
    // from the session's shuffle parallelism, never a local constant.
    val banded = fps
      .select(col("doc_id"), col("fp"),
        explode(hammingBandKeys(col("fp"), bands, bits)).as("bkey"))
      .repartition(shufflePartitions(fps), col("bkey"))
    val a = banded.select(col("bkey"), col("doc_id").as("da"),
      col("fp").as("fa"))
    val b = banded.select(col("bkey"), col("doc_id").as("db"),
      col("fp").as("fb"))
    a.join(b.hint("shuffle_hash"), Seq("bkey"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct() // multi-band matches collapse; hamming is pair-determined
  }

  /** Exact n-gram Jaccard near-dup pairs at `threshold`, candidates via
    * shared-shingle inverted index (equi-join on the shingle).
    *
    * The index carries the 48-bit shingle hash, not the string: the
    * self-join shuffles 8-byte longs instead of ~20-byte UTF8 grams and
    * compares by long equality. (Cross-doc hash collisions would merge
    * distinct shingles; at 48 bits that is ~2^-48 per pair — accepted,
    * and the oracle applies the same hash so results stay comparable.)
    */
  def ngramJaccardPairs(docs: DataFrame, text: Column, id: Column,
                        n: Int, threshold: Double,
                        maxDf: Option[Long] = None): DataFrame =
    // ONE Jaccard formula for the batch and refresh paths (the
    // refresh==rebuild property depends on them never drifting); the
    // least/greatest orientation inside is a no-op on the self-join's
    // already-ordered da < db pairs
    jaccardFromIntersections(
      shingleIntersections(docs, text, id, n, maxDf), threshold)

  /** Directional n-gram containment pairs: c_a_in_b = |A∩B| / |A| (the
    * fraction of A's shingles that also occur in B) and the mirror —
    * the one-sided near-dup signal Jaccard misses: a short document
    * quoted whole inside a long one has tiny Jaccard but containment
    * ≈ 1. Keep pairs where EITHER direction clears `threshold` — the
    * standard sub-document duplication / boilerplate-inclusion
    * detector. Same candidate machinery (and scale posture) as
    * [[ngramJaccardPairs]].
    */
  def ngramContainmentPairs(docs: DataFrame, text: Column, id: Column,
                            n: Int, threshold: Double,
                            maxDf: Option[Long] = None): DataFrame =
    shingleIntersections(docs, text, id, n, maxDf)
      .select(col("da"), col("db"),
        (col("i").cast("double") / col("na")).as("c_a_in_b"),
        (col("i").cast("double") / col("nb")).as("c_b_in_a"))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)

  /** Shared core of the exact n-gram pair family: candidate pairs via
    * the shared-shingle inverted index (equi-join on the shingle) with
    * intersection and both set sizes — (da, db, na, nb, i).
    *
    * The index carries the 48-bit shingle hash, not the string: the
    * self-join shuffles 8-byte longs instead of ~20-byte UTF8 grams and
    * compares by long equality. (Cross-doc hash collisions would merge
    * distinct shingles; at 48 bits that is ~2^-48 per pair — accepted,
    * and the oracle applies the same hash so results stay comparable.)
    *
    * `maxDf` is the skew guard for the exact pair family (same hazard
    * class as minhashLshPairsBounded's bucket cap): a boilerplate
    * shingle shared by the whole corpus makes the self-join quadratic
    * in corpus size. With a cap, shingles whose DOCUMENT FREQUENCY
    * exceeds it are excluded from candidate generation — the df count
    * is a window riding the existing shingle exchange (zero extra
    * shuffle). Score contract under the cap: set sizes stay FULL, so
    * `i` undercounts by the pruned common shingles and the
    * jaccard/containment become LOWER bounds — pairs held together
    * only by boilerplate drop out, which is the point.
    */
  private def shingleIntersections(docs: DataFrame, text: Column,
                                   id: Column, n: Int,
                                   maxDf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh0 = shingleIndex(docs, text, id, n)
    // df window partitions on s — satisfied by the repartition exchange
    // inside shingleIndex, so the cap costs zero additional shuffles
    val sh = maxDf.fold(sh0)(cap => sh0
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("__df") <= cap).drop("__df"))
    indexSelfIntersections(sh)
  }

  /** The 48-bit shingle inverted index with per-doc set size —
    * (doc_id, s, sz). This IS the durable dedup artifact
    * ([[DupGraph.write]] persists it): a day-2 batch joins its own
    * index against the stored one and never re-enumerates day-1.
    *
    * Per-doc set size rides along as a window count over the exploded
    * index: one lineage, so the expensive shingle+md5 projection is
    * computed once and a self-join's two sides reuse one shuffle
    * (ReusedExchange) instead of recomputing it, and no separate
    * `sizes` aggregate + two back-joins are needed.
    * Explicit repartition on the join key: both self-join sides project
    * from the SAME exchange subtree, so the static ReuseExchange rule
    * dedupes it at plan time — reuse no longer depends on AQE runtime
    * stage matching (callers that scope AQE off, like
    * connectedComponents, would otherwise compute the index twice).
    */
  private[ext] def shingleIndex(docs: DataFrame, text: Column,
                                id: Column, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(id.as("doc_id"),
      explode(array_distinct(
        graft.functions.HashFunctions.shingleHash48(text, n))).as("s"))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      // explicit numPartitions: same rationale as simhashHammingPairs —
      // the index is small in bytes but its self-join emits candidate
      // pairs; AQE's bytes-based coalescing would run that join at a
      // fraction of the session parallelism
      .repartition(shufflePartitions(docs), col("s"))
  }

  /** Self-join intersections over one index: (da < db, na, nb, i).
    * Shuffle-hash, not broadcast: broadcasting would rebuild the whole
    * shingle+md5 subplan into the broadcast exchange (computed twice);
    * shuffling both sides on `s` lets ReusedExchange compute it ONCE,
    * and at scale the exploded index is never broadcastable anyway.
    */
  private def indexSelfIntersections(sh: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id").as("da"), col("s"), col("sz").as("na"))
    val b = sh.select(col("doc_id").as("db"), col("s"), col("sz").as("nb"))
    a.join(b.hint("shuffle_hash"), Seq("s"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db", "na", "nb").agg(count(lit(1)).as("i"))
  }

  /** Cross intersections: every NEW-index doc against every STORED-index
    * doc sharing a shingle — the day-2 candidate join that replaces a
    * full union-corpus re-enumeration. Ids must be disjoint between the
    * two indexes (a re-ingested id would pair with itself; such rows are
    * filtered, not matched).
    *
    * Build-side discipline for scale: the BATCH index is the
    * shuffle-hash build side (batch-sized per partition), the STORED
    * index is the streamed probe — so when the stored index is a
    * BUCKETED table on `s` ([[DupGraph.write]]'s layout), the
    * corpus-sized side reads straight out of its bucket files with NO
    * Exchange at all (PlanAuditSpec pins this): the only shuffle in a
    * day-2 refresh is the batch's own. On a plain-parquet stored index
    * both sides shuffle once on `s` (still collision-bound, never
    * corpus²).
    */
  private[ext] def indexCrossIntersections(shNew: DataFrame,
                                           shOld: DataFrame): DataFrame = {
    val a = shNew.select(col("doc_id").as("da"), col("s"), col("sz").as("na"))
    val b = shOld.select(col("doc_id").as("db"), col("s"), col("sz").as("nb"))
    a.hint("shuffle_hash").join(b, Seq("s"))
      .filter(col("da") =!= col("db"))
      .groupBy("da", "db", "na", "nb").agg(count(lit(1)).as("i"))
  }

  /** Exact Jaccard + threshold over an intersections frame, with the
    * (da < db) pair orientation normalized LAST so cross-batch pairs
    * (where `da` is always the new doc) land in the same convention as
    * self-join pairs.
    */
  private def jaccardFromIntersections(ints: DataFrame,
                                       threshold: Double): DataFrame =
    ints.select(least(col("da"), col("db")).as("da"),
        greatest(col("da"), col("db")).as("db"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jacc"))
      .filter(col("jacc") >= threshold)

  /** Corpus-level MinHash: ONE union signature per group. MinHash is a
    * mergeable sketch — the signature of a union of shingle sets is the
    * element-wise min of the members' signatures — so a whole source /
    * crawl snapshot / shard compresses to k longs via a plain min
    * aggregate: fused per-doc kernel (pure projection), one map-side-
    * combined hash aggregate, output rows = number of groups. Docs with
    * fewer than 3 tokens contribute no shingles and are excluded (same
    * rule as the per-doc signature).
    */
  def groupMinhashSignature(docs: DataFrame, group: Column, text: Column,
                            k: Int): DataFrame = {
    require(k <= Params.size, s"only ${Params.size} hash params defined")
    val sig = graft.functions.HashFunctions.minhashSig(
      graft.functions.HashFunctions.shingleHash48(text, 3), Params.take(k))
    docs.filter(size(TextHash.tokens(text)) >= 3)
      .select(group.as("grp"), sig.as("__sig"))
      .groupBy("grp")
      .agg(min(col("__sig").getItem(0)).as("h0"),
        (1 until k).map(i => min(col("__sig").getItem(i)).as(s"h$i")): _*)
  }

  /** Estimated pairwise Jaccard between group signatures (grp_a <
    * grp_b): the fraction of agreeing components. The input is
    * group-level (one row per source/snapshot), so the all-pairs
    * comparison is over the GROUP count, not the corpus — broadcast the
    * tiny signature table; a million-group registry would band it like
    * minhashLshPairs instead.
    */
  def groupMinhashSimilarity(gsig: DataFrame, k: Int): DataFrame = {
    val a = gsig.select(col("grp").as("grp_a") +:
      (0 until k).map(i => col(s"h$i").as(s"a$i")): _*)
    val b = gsig.select(col("grp").as("grp_b") +:
      (0 until k).map(i => col(s"h$i").as(s"b$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(broadcast(b), col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"),
        round(matches.cast("double") / k, 4).as("est_sim"))
  }

  /** Edit-distance fuzzy match over a VALUE vocabulary: distinct the
    * attribute first (the 100 TB move — row-level fuzzy self-joins are
    * quadratic in rows, value-level ones in distinct values, which for
    * dimension-like attributes is orders of magnitude smaller), block by
    * `block` (a cheap deterministic key: last token, soundex, length
    * band...), pair within blocks, keep `levenshtein <= maxDist`.
    *
    * Scale posture: candidate generation is a bucketed equi-join on the
    * block key — cost follows block collisions like every candidate
    * generator in this family, never all-pairs; the quadratic term is
    * per-block and the blocker is the caller's recall/cost dial.
    * Recall contract: only pairs agreeing on `block` are found (exactly
    * the LSH-band trade stated by minhashLshPairs).
    */
  def fuzzyPairs(df: DataFrame, text: Column, block: Column,
                 maxDist: Int): DataFrame = {
    val vocab = df.select(text.as("name"), block.as("blk")).distinct()
    val a = vocab.select(col("name").as("name_a"), col("blk"))
    val b = vocab.select(col("name").as("name_b"), col("blk"))
    a.join(b.hint("shuffle_hash"), Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Jaro-Winkler fuzzy match over a value vocabulary: the same
    * distinct-then-block candidate shape as [[fuzzyPairs]], scored by
    * the native [[graft.functions.JaroWinklerSim]] kernel instead of
    * Levenshtein — transposition-tolerant and prefix-boosted, the
    * classic record-linkage scorer for person/product names. `minSim`
    * is applied to the 4-decimal-rounded similarity so the keep/drop
    * decision is stable under last-bit float drift.
    */
  def jaroWinklerPairs(df: DataFrame, text: Column, block: Column,
                       minSim: Double): DataFrame = {
    val vocab = df.select(text.as("name"), block.as("blk")).distinct()
    val a = vocab.select(col("name").as("name_a"), col("blk"))
    val b = vocab.select(col("name").as("name_b"), col("blk"))
    a.join(b.hint("shuffle_hash"), Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        round(graft.functions.StringSimilarityFunctions.jaroWinkler(
          col("name_a"), col("name_b")), 4).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Duplicate-graph structure summary: edge and triangle counts over a
    * canonically-oriented edge list (src < dst, the convention every
    * pair generator in this family emits). Triangle density is the
    * standard QA signal on a dedup candidate graph — near-dup edges are
    * noisy, but triangles (three mutually-similar documents) almost
    * never are, so a collapsing triangle count after a threshold change
    * means the change cut real clusters, not noise.
    *
    * Scale posture: the classic two-hash-join triangle enumeration.
    * The `src < dst` orientation means each triangle {a<b<c} is counted
    * exactly once (as e1=(a,b), e2=(b,c), e3=(a,c)) with no
    * permutation blowup, and the join fan-out is bounded by directed
    * out-degree — the well-known orientation trick that keeps the
    * worst case at O(m^1.5) instead of O(sum deg^2). Both joins are
    * plain equi-joins: no cartesian, no driver-side adjacency.
    */
  def triangleStats(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val e = edges.select(src.as("u"), dst.as("v"))
    val wedges = e.select(col("u").as("a"), col("v").as("b"))
      .join(e.select(col("u").as("b"), col("v").as("c")), Seq("b"))
    val tri = wedges
      .join(e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val m = e.agg(count(lit(1)).as("n_edges"))
    tri.crossJoin(broadcast(m)).select(col("n_triangles"), col("n_edges"))
  }

  /** PASSAGE-granularity duplication profile: per document, how many of
    * its non-overlapping `win`-token passages also occur (verbatim, by
    * digest) in at least one OTHER document — the fine-grained signal
    * whole-document dedup misses (boilerplate headers, quoted blocks,
    * syndicated paragraphs survive doc-level near-dup at low overall
    * similarity). dup_frac feeds quality filtering exactly like the
    * Dolma/RefinedWeb "duplicate n-gram fraction" rules.
    *
    * Scale posture: passages come from [[Sampling.chunkTokens]]
    * (stride = win, pure projection + explode), the occurrence count is
    * one hash shuffle on the passage digest (the inverted-index shape),
    * and the per-doc rollup shuffles on doc id — no joins wider than
    * the digest equi-join, nothing quadratic at any corpus size.
    */
  def duplicatePassageStats(docs: DataFrame, id: Column, text: Column,
                            win: Int): DataFrame = {
    val ch = Sampling.chunkTokens(docs, id, text, win, win)
      .select(col("doc_id"), col("chunk_md5"))
    val occ = ch.groupBy("chunk_md5")
      .agg(countDistinct("doc_id").as("__nd"))
    ch.join(occ, "chunk_md5")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_dup_passages"))
      .withColumn("dup_frac",
        round(col("n_dup_passages").cast("double") / col("n_passages"), 4))
  }

  /** PASSAGE-granularity dedup REMOVAL (the CCNet/Dolma paragraph-dedup
    * decision, adapted to `win`-token passages since the corpus has no
    * paragraph breaks): every duplicated passage keeps exactly its
    * FIRST corpus-wide occurrence (order = (doc_id, position)), all
    * later occurrences are cut, and each document's text is
    * reassembled from its surviving passages in original order. Where
    * [[duplicatePassageStats]] only profiles the duplication, this
    * applies it — the boilerplate/syndication scrubber that doc-level
    * near-dup cannot express (it keeps or drops whole documents).
    *
    * Scale posture: one explode projection (passage digests), one
    * WindowGroupLimit election keyed on the digest (map-side partial
    * limit — a passage duplicated a million times sends a handful of
    * candidate rows per task, never the million), one hash aggregate
    * back on doc id to reassemble, one left join to re-attach empty
    * docs. No joins wider than the digest equi-join; reassembled text
    * shuffles once, keyed by doc.
    *
    * Determinism: the election priority (doc_id, chunk_id) is a total
    * order, and reassembly sorts by chunk position — byte-stable at
    * any parallelism (SURVEY.md §7.5).
    */
  def dedupPassagesCorpus(docs: DataFrame, id: Column, text: Column,
                          win: Int): DataFrame = {
    // one fused byte pass per document (graft_token_windows,
    // stride = win ⇒ the fixed non-overlapping grid); null text
    // yields a null window array and posexplode drops the row — the
    // trailing left join re-attaches such docs with n_kept = 0 /
    // empty clean_text like every other text operator
    val ch = docs.select(id.as("doc_id"),
        posexplode(graft.functions.TermFunctions.tokenWindows(
          text, win, win)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("col.txt").as("ptxt"))
      // split("") yields [""] — an empty-text doc would otherwise carry
      // one empty "passage"; drop those so it lands at n_kept = 0 too
      .where(col("ptxt") =!= "")
    val kept = graft.ops.Windows.findFirst(
      ch.withColumn("h", md5(col("ptxt"))),
      keys = Seq(col("h")),
      priority = Seq(col("doc_id"), col("chunk_id")))
    val clean = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      // GetArrayStructFields (codegen'd), not a transform lambda
      array_join(sort_array(collect_list(struct(col("chunk_id"),
        col("ptxt")))).getField("ptxt"), " ").as("clean_text"))
    docs.select(id.as("doc_id")).join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Token-level cut decisions for OVERLAPPING-span exact-substring
    * dedup (the Lee et al. "Deduplicating Training Data Makes Language
    * Models Better" decision, at arbitrary offsets — the refinement of
    * [[dedupPassagesCorpus]]'s fixed non-overlapping grid): a token is
    * cut when some duplicated `spanLen`-token window covers it. Two
    * election modes:
    *  - `keepFirst = true`: the corpus-wide FIRST occurrence of each
    *    duplicated window (order = (doc_id, off)) is ELECTED, and
    *    tokens covered by an elected window are protected — one copy
    *    of each duplicated span survives, later copies are cut.
    *  - `keepFirst = false`: every occurrence of a duplicated window
    *    is cut ("remove all copies" — the released exact-substring
    *    tooling default). This mode is span-idempotent: re-running it
    *    over the kept spans cuts nothing (every surviving window was
    *    unique, and spans introduce no new windows).
    * keepFirst is deliberately NOT strictly idempotent: protection
    * derives from windows being duplicated NOW, so cutting the other
    * copies can dissolve the protection a second pass would have
    * relied on. One pass is the operator's contract.
    *
    * Returns (doc_id, pos, tk, cut) — one row per token, `cut` 0/1.
    * Docs shorter than `spanLen` tokens carry no windows and are never
    * cut, mirroring the published minimum-match-length threshold.
    *
    * Scale posture: the window digests are one fused codegen'd
    * projection ([[graft.functions.HashExpressions]] ShingleHash48 —
    * one md5 per window over the source bytes, no intermediate
    * strings); the election is a digest-keyed hash AGGREGATE
    * (count + min(struct(doc_id, off))) with map-side partials, so a
    * boilerplate window duplicated a million times sends one partial
    * row per task — no hot-digest window partition anywhere. Flags
    * come back via one digest-keyed equi-join, coverage is two sliding
    * maxima in ONE doc-keyed Window exec (frame = spanLen-1 preceding),
    * and everything downstream reuses the doc_id partitioning. Cost is
    * linear in corpus tokens plus collision mass.
    *
    * Determinism: the election priority (doc_id, off) is a total
    * order; coverage and cut flags are integer arithmetic — bit-stable
    * at any parallelism (SURVEY.md §7.5).
    */
  def spanCutFlags(docs: DataFrame, id: Column, text: Column,
                   spanLen: Int, keepFirst: Boolean = true): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2: $spanLen")
    import org.apache.spark.sql.expressions.Window
    // (doc_id, off, dg): one 48-bit digest per sliding spanLen-token
    // window, off 0-based
    val w = docs
      .select(id.as("doc_id"),
        posexplode(graft.functions.HashFunctions.shingleHash48(text, spanLen)))
      .select(col("doc_id"), col("pos").cast("long").as("off"),
        col("col").as("dg"))
    // per-digest stats via groupBy (partial-agg, skew-safe — NOT a
    // row_number window, which would serialize a hot digest's rows
    // into one partition)
    val st = w.groupBy("dg").agg(
      count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("off"))).as("fst"))
    val elected = col("cnt") > 1 &&
      col("fst.doc_id") === col("doc_id") && col("fst.off") === col("off")
    val fl = w.join(st, "dg").select(
      col("doc_id"), col("off"),
      when(col("cnt") > 1 && (if (keepFirst) !elected else lit(true)),
        lit(1)).otherwise(lit(0)).as("lose"),
      when(if (keepFirst) elected else lit(false), lit(1))
        .otherwise(lit(0)).as("prot"))
    // every token position, zipped with its flags (positions past the
    // last window start have no flag row — coalesce to 0)
    val tp = docs
      .select(id.as("doc_id"), posexplode(TextHash.tokens(text)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("tk"))
    val cover = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(spanLen - 1), Window.currentRow)
    tp.join(fl, tp("doc_id") === fl("doc_id") && col("pos") === col("off"),
        "left")
      .select(tp("doc_id"), col("pos"), col("tk"),
        coalesce(col("lose"), lit(0)).as("lose"),
        coalesce(col("prot"), lit(0)).as("prot"))
      .select(col("doc_id"), col("pos"), col("tk"),
        (max(col("lose")).over(cover) === 1 &&
          max(col("prot")).over(cover) === 0).cast("int").as("cut"))
  }

  /** Overlapping-span exact-substring dedup REMOVAL over a corpus:
    * applies [[spanCutFlags]] and reassembles each document from its
    * surviving tokens in original order. Output: (doc_id, n_tokens,
    * n_cut, clean_text) for EVERY input document (null-text docs pass
    * through at zero).
    *
    * Scale posture: spanCutFlags' shapes plus ONE doc-keyed hash
    * aggregate for reassembly (reuses the coverage window's doc_id
    * partitioning) and a doc-keyed left join to re-attach degenerate
    * docs. Reassembled text shuffles once.
    */
  def dedupSpansCorpus(docs: DataFrame, id: Column, text: Column,
                       spanLen: Int, keepFirst: Boolean = true): DataFrame = {
    val flags = spanCutFlags(docs, id, text, spanLen, keepFirst)
    val agg = flags.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(col("cut")).cast("long").as("n_cut"),
      array_join(sort_array(collect_list(
        when(col("cut") === 0, struct(col("pos"), col("tk")))))
        .getField("tk"), " ").as("clean_text"))
    docs.select(id.as("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}

/** A dup-graph materialized once by [[Dedup.dupGraph]]: the candidate
  * pair list (persisted) and its connected-component cluster table
  * (checkpoint-backed). Every consumer below reads these artifacts —
  * none re-runs the pair enumeration or the contraction.
  *
  * @param pairs    (da, db, jacc) candidate pairs at the build threshold
  * @param clusters (doc_id, cluster_id) — only documents that appear in
  *                 `pairs`; untouched docs are absent (consumers
  *                 left-join and treat null as "unique")
  */
final class DupGraph private[ext] (val pairs: DataFrame,
                                   val clusters: DataFrame,
                                   mkIndexSegs: () => Seq[DataFrame],
                                   owned: Seq[DataFrame],
                                   val n: Int,
                                   val threshold: Double,
                                   /** Durable ancestry: set iff this graph
                                     * is backed by a stored artifact, so
                                     * [[write]] back to the same root can
                                     * commit ONLY the unwritten deltas as
                                     * new segments instead of rewriting
                                     * the corpus-sized index. */
                                   private[ext] val lineage: Option[DupGraph.Lineage] = None) {

  /** The 48-bit shingle inverted index as its immutable SEGMENTS —
    * one per ingested batch for a stored graph (each document's
    * shingles live wholly inside its arrival segment, so per-segment
    * joins are complete without any cross-segment merge).
    * [[Dedup.refreshDupGraph]] joins the new batch against each
    * segment independently: the bucketed stored side of every one of
    * those joins is exchange-free. Materializes lazily.
    */
  private[ext] lazy val indexSegs: Seq[DataFrame] = mkIndexSegs()

  /** The full shingle inverted index (doc_id, s, sz) — the union view
    * of [[indexSegs]], for consumers that want one frame.
    */
  lazy val index: DataFrame = union(indexSegs)

  /** Persist the graph for cross-job sharing under `path`: immutable
    * index/pairs/cluster-delta SEGMENTS under `path/segments/` + a
    * per-version manifest under `path/vN`, committed through
    * [[graft.ops.SegmentedArtifact]]. A daily-crawl pipeline writes
    * day-1's graph once; day-2 reads it back ([[DupGraph.read]]) and
    * folds the new batch in with [[Dedup.refreshDupGraph]] — the
    * stored corpus is never re-enumerated, and never re-WRITTEN
    * either.
    *
    * ==Segment-incremental commits (the 100 TB commit cost)==
    * A graph whose [[lineage]] roots at this same `path` (read here,
    * then refreshed zero or more times) commits ONLY its unwritten
    * deltas: the batch's shingle index becomes one new immutable
    * index segment, the batch's new pairs one new pairs segment, and
    * the CLUSTER table commits as a CHANGE delta (new docs + any old
    * doc a merge relabeled) — per-batch commit BYTES follow the batch
    * and the true merge ripple, never the corpus. Cluster deltas
    * layer soundly because labels are monotone non-increasing across
    * refreshes (components only grow; a grown component's min-id only
    * decreases), so [[DupGraph.read]] reconstructs the effective view
    * with one min(cluster_id)-per-doc aggregate over the layers —
    * no last-writer bookkeeping. Without lineage (a fresh build, or a
    * write to a different root) the whole graph is written as one
    * segment triple. Segment count grows one per ingested batch until
    * [[DupGraph.compact]] folds them back to one.
    *
    * ==Bucketed segment layout (the 100 TB refresh cost)==
    * With `buckets > 0` (default 32) every index segment is a
    * HASH-BUCKETED, bucket-sorted table on `s` — a day-2
    * `indexCrossIntersections` reads every corpus-sized stored
    * segment straight from its bucket files with NO Exchange: the
    * only shuffle a refresh pays is the new batch's own index. On
    * plain parquet (`buckets = 0`) the stored side would re-shuffle
    * per refresh — at 100 TB that exchange IS the refresh cost.
    * Bucket count is fixed at first write (recorded in the manifest,
    * shared by all segments); pick it like shuffle partitions (corpus
    * shingle volume / healthy partition size). `buckets` is ignored
    * on an incremental commit — the artifact's recorded count wins.
    *
    * Each version carries a manifest (shingle width, threshold, hash
    * version, bucket count, segment lists, optional last-applied
    * streaming batch id) — [[Dedup.refreshDupGraph]] refuses
    * mismatched parameters instead of silently mixing shingle spaces.
    */
  def write(path: String, buckets: Int = 32,
            batchId: Option[Long] = None,
            store: graft.ops.PointerStore =
              graft.ops.PointerStore.File): Unit = {
    import DupGraph.{Clusters, Index, Pairs}
    val lin = lineage.filter(_.base.root == path)
    val puts = lin match {
      case Some(l) if l.deltaIdx.nonEmpty => Seq(
        Index -> (() => union(l.deltaIdx.map(_()))),
        Pairs -> (() => union(l.deltaPrs)),
        Clusters -> (() => union(l.deltaCls)))
      case Some(_) => Nil
      case None => Seq(Index -> (() => index), Pairs -> (() => pairs),
        Clusters -> (() => clusters))
    }
    DupGraph.Spec.commit(path, store, base = lin.map(_.base),
      batchId = batchId, params = Map("n" -> n.toString,
        "threshold" -> threshold.toString,
        "buckets" -> lin.fold(buckets)(_.base.buckets).toString),
      puts = puts)
    ()
  }

  /** Deduplicated corpus ([[Dedup.survivors]] over the shared cluster
    * table): unique docs + each cluster's min-id survivor. One
    * corpus-sized join probe — the cost this consumer inherently needs.
    */
  def corpus(docs: DataFrame, id: Column): DataFrame =
    Dedup.survivors(docs, id, clusters)

  /** Quality-canonical corpus ([[Dedup.canonicalSurvivors]] over the
    * shared cluster table): each cluster keeps its highest-`score`
    * member instead of the lowest id.
    */
  def canonical(docs: DataFrame, id: Column, score: Column): DataFrame =
    Dedup.canonicalSurvivors(docs, id, clusters, score)

  /** Cluster-size distribution QA (the q_cluster_sizes table):
    * (sz, n_clusters, n_docs) per size. Aggregates only the
    * pair-graph-sized cluster table — zero corpus scans.
    */
  def sizes: DataFrame =
    clusters.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      .select(col("sz"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"))

  /** Release the caches this graph owns — exactly the frames listed at
    * construction (the pair table for a built graph; the new-batch
    * pairs AND batch shingle index for a refreshed one; nothing for a
    * read one). `clusters` remains valid (checkpoint blocks are
    * independent of the cache); cached consumers after this recompute
    * from source.
    */
  def unpersist(): Unit = { owned.foreach(_.unpersist()); () }
}

object DupGraph {

  /** Shingle-hash scheme identifier persisted in every version
    * manifest — a refresh against an artifact hashed under a different
    * scheme must fail loudly, never join garbage.
    */
  val HashVersion = "shingle48/v1"

  /** Index segments bucket on `s`; pairs and cluster deltas are never
    * a recurring-join stored side, so they stay plain.
    */
  private val Index = Family("isegs", "i", Bucketed("s"))
  private val Pairs = Family("psegs", "p")
  private val Clusters = Family("clsegs", "k")
  private[graft] val Spec = new graft.ops.SegmentedArtifact(
    "DupGraph", "hash", HashVersion, Seq(Index, Pairs, Clusters))

  /** Durable ancestry of a stored graph: the committed version it was
    * read from and the in-memory deltas refreshes have accumulated
    * since (one index, pairs and cluster delta per refresh).
    * [[DupGraph.write]] back to the same root commits only the deltas.
    */
  private[ext] final case class Lineage(base: Version,
                                        deltaIdx: Seq[() => DataFrame],
                                        deltaPrs: Seq[DataFrame],
                                        deltaCls: Seq[DataFrame])

  /** Fold a multi-segment artifact back to one segment TRIPLE: union
    * all index segments into ONE bucketed segment, all pairs segments
    * into one, fold the cluster layers to their effective min-per-doc
    * view, commit as a new version
    * ([[graft.ops.SegmentedArtifact.compact]]). Explicit and separate
    * from the ingest path by design — ingest commits stay batch-sized
    * forever and the (corpus-sized) rewrite runs on the operator's
    * schedule, exactly like any LSM/Delta compaction. No-op when
    * already compact (unless `keepPairs = false` still has pairs to
    * prune).
    *
    * `keepPairs = false` PRUNES the pairs table down to its (empty,
    * schema-bearing) shell: pairs are the raw near-dup evidence, but
    * every downstream decision consumes the CLUSTER table, and a
    * day-2 refresh needs only index + clusters — so a long-lived
    * artifact can drop the one segment family whose bytes grow with
    * TRUE duplication forever. Contract: after a prune, the graph's
    * `pairs` view reflects only post-prune ingests (refresh results
    * are unchanged — spec-pinned); consumers that audit raw pairs
    * should keep them.
    *
    * `retain = 2` when compaction runs in the SAME fold as an ingest
    * commit (the streaming maintainers' auto-compaction), so a reader
    * current at fold start still resolves complete segments.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              keepPairs: Boolean = true, retain: Int = 1,
              store: graft.ops.PointerStore =
                graft.ops.PointerStore.File): Unit =
    // keepPairs=false on an already-compact artifact re-runs only if
    // there are still pairs to prune (a limit-1 probe on the single
    // pairs segment): a scheduled prune must not pay a full corpus
    // rewrite for zero effect every time
    Spec.compact(path, retain, store, force = c => !keepPairs &&
      !c.segs(Pairs).forall(sid =>
        spark.read.parquet(Spec.segDir(path, sid)).isEmpty)) { c =>
      // pairs: limit(0), not an omitted segment — the read path stays
      // uniform and a later refresh's unionByName against it is a no-op
      val prs = Spec.folded(spark, c, Pairs)
      Seq(Index -> (() => Spec.folded(spark, c, Index)),
        Pairs -> (() => if (keepPairs) prs else prs.limit(0)),
        Clusters -> (() => effectiveClusters(spark, c)))
    }

  /** Effective cluster view over layered delta segments: the minimum
    * label per doc — exactly the latest assignment because labels are
    * monotone non-increasing across refreshes. One map-side-combinable
    * aggregate over the pair-graph-sized layers.
    */
  private def effectiveClusters(spark: org.apache.spark.sql.SparkSession,
                                c: Version): DataFrame =
    Spec.folded(spark, c, Clusters)
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))

  /** Re-open the LATEST committed version of a graph persisted by
    * [[DupGraph.write]]. Nothing is cached on read (parquet scans are
    * already cheap and columnar); [[Dedup.refreshDupGraph]] reads the
    * index side exactly once per batch. Build parameters, the bucket
    * layout, and the segment lists come from the version manifest.
    * Throws if no version was ever committed (use [[exists]] to
    * probe).
    *
    * ==Reader lifetime contract==
    * The returned frames lazily scan the segments the resolved
    * version's manifest pins (the segment sweep never deletes a
    * segment a surviving manifest references). Each later commit
    * retains the `retain` (default 1) previous versions, so a reader
    * stays valid across that many concurrent commits; a consumer that
    * holds a graph across MORE commits than the writer's retention
    * must re-[[read]] (or the writer must raise `retain`).
    */
  def read(spark: org.apache.spark.sql.SparkSession, path: String,
           store: graft.ops.PointerStore =
             graft.ops.PointerStore.File): DupGraph =
    at(spark, Spec.open(path, store))

  // The cluster table is deliberately a PURE lazy view, not
  // checkpointed/persisted: a read handle can outlive executors
  // (dynamic allocation) and is re-read every micro-batch by the
  // streaming loop — truncated lineage would break on executor loss
  // inside the promised reader-lifetime window, and per-read blocks
  // have no deterministic release. Each action pays one union +
  // min-aggregate over the layers; layer count is bounded by
  // batches-since-[[compact]], which is the documented lever.
  private[graft] def at(spark: org.apache.spark.sql.SparkSession,
                        c: Version): DupGraph =
    new DupGraph(Spec.folded(spark, c, Pairs), effectiveClusters(spark, c),
      () => Spec.segments(spark, c, Index),
      owned = Seq.empty, // a read graph owns no caches
      n = c("n").toInt, threshold = c("threshold").toDouble,
      lineage = Some(Lineage(c, deltaIdx = Nil, deltaPrs = Nil,
        deltaCls = Nil)))

  /** True iff a complete committed version exists at `path` — the
    * restart probe for incremental loops (the pointer is written only
    * after all three tables are fully on disk).
    */
  def exists(path: String,
             store: graft.ops.PointerStore =
               graft.ops.PointerStore.File): Boolean =
    Spec.exists(path, store)

  /** The last streaming batch id folded into the committed graph, if
    * the writer recorded one — [[graft.streaming.StreamingDedup]]'s
    * replay guard (a micro-batch re-delivered after a crash between
    * the graph's pointer commit and the stream's checkpoint commit
    * must NOT be folded twice; its ids are already in the stored
    * index and would self-pair).
    */
  def lastBatchId(path: String,
                  store: graft.ops.PointerStore =
                    graft.ops.PointerStore.File): Option[Long] =
    Spec.lastBatchId(path, store)
}
