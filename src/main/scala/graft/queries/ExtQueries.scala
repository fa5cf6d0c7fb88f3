package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables
import graft.ext.{AnnIndex, Dedup, Drift, Graph, NoveltyIndex, Sampling, Similarity, TextAnalysis, TextHash, Urls}
import graft.ops.Aggregates

/** [EXT] LLM-training-data pipeline operators (builder-prompt north
  * star): deduplication (exact / MinHash+LSH / SimHash / n-gram
  * Jaccard / embedding-cosine), similarity search (brute-force +
  * IVF-pruned ANN), text analysis (lang-ID / quality / token counts /
  * fingerprints). Every query is oracle-checked against DuckDB; the
  * hashing arithmetic is engine-portable by construction (TextHash).
  */
object ExtQueries {

  /** Decode-stage parallelism for the media fixture rows: one task per
    * core of THIS session (the driver re-runs the bench at lower core
    * counts to measure scaling — a constant 32 would over-split there
    * and under-split any larger cluster; guide §2 "scale-adaptive, not
    * a local-mode constant").
    */
  private def decodePar(s: SparkSession): Int =
    s.sparkContext.defaultParallelism

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    Tables.load(s, d, name)

  // ------------------------------------------------------------- dedup

  private val qDedupExact = Q("q_dedup_exact",
    (s, d) => Dedup.exact(t(s, d, "documents"), col("text"), col("doc_id"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id"),
    Some("SELECT min(doc_id) AS keep_id, count(*) AS n_copies " +
      "FROM documents GROUP BY md5(text) ORDER BY keep_id"))

  /** DuckDB fragment: minhash h_i over 3-gram shingles of text. */
  private def duckMinhash(i: Int): String = {
    val (a, b) = TextHash.Params(i)
    s"list_min(list_transform(sh, s -> ${TextHash.duckHashAB(TextHash.duckBaseHash("s"), a, b)}))"
  }

  private def duckSigCte: String =
    "WITH sh0 AS (SELECT doc_id, " + TextHash.duckShingles("text", 3) +
      // the >=3-token pre-filter mirrors minhashSignature: a null/short
      // doc has NO signature, and DuckDB concat() IGNORES nulls, so an
      // unfiltered null signature would band-collide every null-text
      // doc on ':' keys (null-fixture catch: 1403 bogus candidates)
      " AS sh FROM documents WHERE coalesce(len(string_split(text, ' ')), 0) >= 3), " +
      "sig AS (SELECT doc_id, " +
      (0 until 8).map(i => s"${duckMinhash(i)} AS h$i").mkString(", ") +
      " FROM sh0)"

  private val qMinhash = Q("q_minhash",
    (s, d) => Dedup.minhashSignature(
      t(s, d, "documents"), col("text"), col("doc_id"), k = 4)
      .orderBy("doc_id"),
    Some("WITH sh0 AS (SELECT doc_id, " + TextHash.duckShingles("text", 3) +
      // same >=3-token pre-filter as minhashSignature (see duckSigCte)
      " AS sh FROM documents WHERE coalesce(len(string_split(text, ' ')), 0) >= 3) SELECT doc_id, " +
      (0 until 4).map(i => s"${duckMinhash(i)} AS h$i").mkString(", ") +
      " FROM sh0 ORDER BY doc_id"))

  /** Shared DuckDB fragments for the LSH oracles: the banded-signature
    * CTE (4 bands of 2 over sig) and the est_sim tail that joins
    * candidate pairs back to full signatures.
    */
  private val duckBandsCte = "bands AS (SELECT doc_id, b, CASE b " +
    "WHEN 0 THEN concat(h0, ':', h1) WHEN 1 THEN concat(h2, ':', h3) " +
    "WHEN 2 THEN concat(h4, ':', h5) ELSE concat(h6, ':', h7) END AS bkey " +
    "FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b))"
  private val duckLshTail = "SELECT da, db, round(CAST(" +
    (0 until 8).map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ") +
    " AS DOUBLE) / 8.0, 4) AS est_sim " +
    "FROM cand JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id " +
    "WHERE CAST(" +
    (0 until 8).map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ") +
    " AS DOUBLE) / 8.0 >= 0.5 ORDER BY da, db"

  private val qMinhashLsh = Q("q_minhash_lsh",
    (s, d) => {
      val sig = Dedup.minhashSignature(
        t(s, d, "documents"), col("text"), col("doc_id"), k = 8)
      Dedup.minhashLshPairs(sig, k = 8, bands = 4)
        .filter(col("est_sim") >= 0.5)
        .select(col("da"), col("db"), round(col("est_sim"), 4).as("est_sim"))
        .orderBy("da", "db")
    },
    Some(duckSigCte + ", " + duckBandsCte + ", " +
      "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bands x " +
      "JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id) " +
      duckLshTail))

  /** [EXT] L99 b-bit minhash ([[Dedup.bbitMinhashPairs]], Li–König):
    * the same banded candidates as q_minhash_lsh, similarity estimated
    * from only the LOW 8 bits of each component with the published
    * collision correction (p̂ − 2⁻⁸)/(1 − 2⁻⁸), emitted beside the
    * full-width estimate so the query IS the compression-accuracy
    * eval — the 6× signature-storage lever for shipping per-doc
    * sketches at corpus scale. Both estimates exact µ-units via floor
    * quantization (decimal rounding modes differ across engines for
    * the negatives the corrected estimator can produce); one banded
    * exchange reused by both sides.
    */
  private val qMinhashBbit = Q("q_minhash_bbit",
    (s, d) => {
      val sig = Dedup.minhashSignature(
        t(s, d, "documents"), col("text"), col("doc_id"), k = 8)
      Dedup.bbitMinhashPairs(sig, k = 8, bands = 4, b = 8)
        .filter(col("est_full_micro") >= 500000L)
        .orderBy("da", "db")
    },
    Some(duckSigCte + ", " + duckBandsCte + ", " +
      "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bands x " +
      "JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id), " +
      "j AS (SELECT da, db, CAST(" +
      (0 until 8).map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
        .mkString(" + ") + " AS BIGINT) AS mf, CAST(" +
      (0 until 8).map(i =>
        s"(CASE WHEN (sa.h$i & 255) = (sb.h$i & 255) THEN 1 ELSE 0 END)")
        .mkString(" + ") + " AS BIGINT) AS mb " +
      "FROM cand JOIN sig sa ON da = sa.doc_id " +
      "JOIN sig sb ON db = sb.doc_id) " +
      "SELECT da, db, " +
      "CAST(floor(CAST(mf AS DOUBLE) / 8.0 * 1000000 + 0.5) AS BIGINT) " +
      "AS est_full_micro, " +
      "CAST(floor((CAST(mb AS DOUBLE) / 8.0 - (1.0/256)) / (1.0 - 1.0/256) " +
      "* 1000000 + 0.5) AS BIGINT) AS est_b_micro FROM j " +
      "WHERE floor(CAST(mf AS DOUBLE) / 8.0 * 1000000 + 0.5) >= 500000 " +
      "ORDER BY da, db"))

  /** [EXT] L3c incremental (asymmetric) near-dup
    * ([[Dedup.minhashLshPairsAgainst]]): today's batch (doc_id >= 400)
    * against the already-kept corpus — the ingest-time dedup a daily
    * pipeline runs instead of re-self-joining a corpus that grows with
    * age. Oracle restricts the band join's two sides the same way.
    */
  private val qDedupIncremental = Q("q_dedup_incremental",
    (s, d) => {
      val docs = t(s, d, "documents")
      val newSig = Dedup.minhashSignature(
        docs.filter(col("doc_id") >= 400), col("text"), col("doc_id"), k = 8)
      val corpusSig = Dedup.minhashSignature(
        docs.filter(col("doc_id") < 400), col("text"), col("doc_id"), k = 8)
      Dedup.minhashLshPairsAgainst(newSig, corpusSig, k = 8, bands = 4)
        .filter(col("est_sim") >= 0.5)
        .select(col("da"), col("db"), round(col("est_sim"), 4).as("est_sim"))
        .orderBy("da", "db")
    },
    Some(duckSigCte + ", " + duckBandsCte + ", " +
      "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bands x " +
      "JOIN bands y ON x.b = y.b AND x.bkey = y.bkey " +
      "AND x.doc_id >= 400 AND y.doc_id < 400) " +
      duckLshTail))

  /** L3b skew-guarded LSH (graft.ext.Dedup.minhashLshPairsBounded): the
    * corpus-scale posture for adversarial boilerplate — band buckets
    * larger than the cap are excluded from pair generation (and
    * reported out-of-band; see DedupSpec's degenerate-corpus property).
    * The oracle reproduces the bucket-size filter in SQL, so the
    * window-count + cap semantics are cross-engine checked, not just
    * unit-asserted.
    */
  private val qMinhashLshBounded = Q("q_minhash_lsh_bounded",
    (s, d) => {
      val sig = Dedup.minhashSignature(
        t(s, d, "documents"), col("text"), col("doc_id"), k = 8)
      val (pairs, _) = Dedup.minhashLshPairsBounded(
        sig, k = 8, bands = 4, maxBucket = 3)
      pairs.filter(col("est_sim") >= 0.5)
        .select(col("da"), col("db"), round(col("est_sim"), 4).as("est_sim"))
        .orderBy("da", "db")
    },
    Some(duckSigCte + ", " + duckBandsCte + ", " +
      "bsz AS (SELECT b, bkey, count(*) AS sz FROM bands GROUP BY b, bkey), " +
      "kept AS (SELECT x.doc_id, x.b, x.bkey FROM bands x " +
      "JOIN bsz s ON x.b = s.b AND x.bkey = s.bkey WHERE s.sz <= 3), " +
      "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM kept x " +
      "JOIN kept y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id) " +
      duckLshTail))

  /** L25 corpus-level MinHash: one union signature per source
    * (element-wise min — the mergeable-sketch property), then pairwise
    * estimated Jaccard between sources. The dataset-level twin of
    * q_minhash_lsh: compare crawl snapshots / shards wholesale without
    * touching doc granularity (graft.ext.Dedup.groupMinhashSignature).
    */
  private val qMinhashSources = Q("q_minhash_sources",
    (s, d) => {
      val gsig = Dedup.groupMinhashSignature(
        t(s, d, "documents"), col("source"), col("text"), k = 8)
      Dedup.groupMinhashSimilarity(gsig, k = 8)
        .orderBy("grp_a", "grp_b")
    },
    Some("WITH t AS (SELECT source, unnest(" + TextHash.duckShingles("text", 3) +
      ") AS s FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
      "h AS (SELECT source, " + TextHash.duckBaseHash("s") + " AS bh FROM t), " +
      "sig AS (SELECT source, " +
      (0 until 8).map { i =>
        val (a, b) = TextHash.Params(i)
        s"min(${TextHash.duckHashAB("bh", a, b)}) AS h$i"
      }.mkString(", ") +
      " FROM h GROUP BY source) " +
      "SELECT a.source AS grp_a, b.source AS grp_b, round(CAST(" +
      (0 until 8).map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
        .mkString(" + ") +
      " AS DOUBLE) / 8.0, 4) AS est_sim " +
      "FROM sig a JOIN sig b ON a.source < b.source ORDER BY grp_a, grp_b"))

  /** DuckDB CTE chain ending in fps(doc_id, fp) = the 16-bit simhash. */
  private val duckSimhashCtes =
    "tk AS (SELECT doc_id, " + TextHash.duckBaseHash("t") + " AS h FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)), " +
      "bs AS (SELECT doc_id, " +
      (0 until 16).map(j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ") +
      " FROM tk GROUP BY doc_id), " +
      "fps AS (SELECT doc_id, CAST(" +
      (0 until 16).map(j =>
        s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ") +
      " AS BIGINT) AS fp FROM bs)"

  private val qSimhash = Q("q_simhash",
    (s, d) => Dedup.simhash16(t(s, d, "documents"), col("text"), col("doc_id"))
      .orderBy("doc_id"),
    Some(s"WITH $duckSimhashCtes SELECT doc_id, fp FROM fps ORDER BY doc_id"))

  /** Hamming pair-search over the simhash fingerprints: banding into 4
    * nibbles guarantees every pair within distance <= 2 shares a band
    * (pigeonhole); oracle replicates the identical banding + exact
    * bit_count post-filter.
    */
  private val qSimhashPairs = Q("q_simhash_pairs",
    (s, d) => Dedup.simhashHammingPairs(
      Dedup.simhash16(t(s, d, "documents"), col("text"), col("doc_id")),
      maxDist = 2)
      .orderBy("da", "db"),
    Some(s"WITH $duckSimhashCtes, " +
      "bands AS (SELECT doc_id, fp, b, (fp >> (b * 4)) & 15 AS key FROM fps " +
      "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)), " +
      "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db, " +
      "x.fp AS fa, y.fp AS fb FROM bands x JOIN bands y " +
      "ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id) " +
      "SELECT da, db, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming " +
      "FROM cand WHERE bit_count(xor(fa, fb)) <= 2 ORDER BY da, db"))

  /** DuckDB CTE chain ending in fps(doc_id, fp) = the 64-bit simhash:
    * token bits 0..47 from md5 hex chars 1..12, bits 48..63 from chars
    * 13..16 (mirroring Dedup.simhash64). Bit 63's weight is -2^63 so
    * the fingerprint lands on the identical two's-complement BIGINT.
    */
  private val duckSimhash64Ctes =
    "tk AS (SELECT doc_id, md5(t) AS m FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)), " +
      "hh AS (SELECT doc_id, " +
      "CAST(concat('0x', substr(m, 1, 12)) AS BIGINT) AS lo, " +
      "CAST(concat('0x', substr(m, 13, 4)) AS BIGINT) AS hi FROM tk), " +
      "bs AS (SELECT doc_id, " +
      (0 until 64).map { j =>
        val w = if (j < 48) s"(lo >> $j)" else s"(hi >> ${j - 48})"
        s"sum(CASE WHEN $w & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
      }.mkString(", ") +
      " FROM hh GROUP BY doc_id), " +
      "fps AS (SELECT doc_id, CAST(" +
      (0 until 64).map { j =>
        val weight = if (j == 63) "-9223372036854775808" else (1L << j).toString
        s"(CASE WHEN b$j > 0 THEN $weight ELSE 0 END)"
      }.mkString(" + ") +
      " AS BIGINT) AS fp FROM bs)"

  /** The wide hamming pair-search (VERDICT r4 top item): 64-bit
    * fingerprints in 4 x 16-bit bands, pigeonhole-exact for dist <= 3.
    * Same operator as q_simhash_pairs — this instance verifies the
    * width that holds up at corpus scale.
    */
  private val qSimhashPairs64 = Q("q_simhash_pairs64",
    (s, d) => Dedup.simhashHammingPairs(
      Dedup.simhash64(t(s, d, "documents"), col("text"), col("doc_id")),
      maxDist = 3, bands = 4, bits = 64)
      .orderBy("da", "db"),
    Some(s"WITH $duckSimhash64Ctes, " +
      "bands AS (SELECT doc_id, fp, b, (fp >> (b * 16)) & 65535 AS key FROM fps " +
      "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)), " +
      "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db, " +
      "x.fp AS fa, y.fp AS fb FROM bands x JOIN bands y " +
      "ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id) " +
      "SELECT da, db, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming " +
      "FROM cand WHERE bit_count(xor(fa, fb)) <= 3 ORDER BY da, db"))

  /** Shared DuckDB CTEs for the 3-gram Jaccard pair pipeline over
    * `src` (also the input of the clustering oracles).
    */
  private def duckShingleInterOver(src: String): String =
    "sh AS (SELECT doc_id, " + TextHash.duckBaseHash("s0") + " AS s FROM " +
      "(SELECT doc_id, unnest(list_distinct(" +
      TextHash.duckShingles("text", 3) + s")) AS s0 FROM $src)), " +
      "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i " +
      "FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)"

  private def duckJaccardCtesOver(src: String): String =
    duckJaccardCtesAt(src, 0.5)

  private def duckJaccardCtesAt(src: String, thr: Double): String =
    duckShingleInterOver(src) + ", " +
      "jpairs AS (SELECT da, db, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jacc " +
      "FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
      s"WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= $thr)"

  private val duckJaccardCtes = duckJaccardCtesOver("documents")

  /** [EXT] L5b skew-guarded exact Jaccard: shingles with document
    * frequency above the cap are excluded from candidate generation
    * (the df window rides the existing shingle exchange — zero extra
    * shuffles), so a boilerplate shingle can never make the self-join
    * quadratic in the corpus. Scores become lower bounds (full set
    * sizes, pruned intersections) — pairs held together only by
    * boilerplate drop out. Cap 3 bites at sf0.01 (25 → 21 pairs), so
    * the oracle proves the guard's semantics, not just its presence.
    */
  private val qNgramJaccardCapped = Q("q_ngram_jaccard_capped",
    (s, d) => Dedup.ngramJaccardPairs(
      t(s, d, "documents"), col("text"), col("doc_id"), n = 3,
      threshold = 0.5, maxDf = Some(3L))
      .select(col("da"), col("db"), round(col("jacc"), 4).as("jacc"))
      .orderBy("da", "db"),
    Some("WITH " + duckShingleInterOver("documents")
      .replace("inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i " +
        "FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)",
        "dfc AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s) " +
          "WHERE df <= 3), " +
          "shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc USING (s)), " +
          "inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i " +
          "FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id " +
          "GROUP BY 1, 2)") + " " +
      "SELECT da, db, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jacc " +
      "FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
      "WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5 ORDER BY da, db"))

  private val qNgramJaccard = Q("q_ngram_jaccard",
    (s, d) => Dedup.ngramJaccardPairs(
      t(s, d, "documents"), col("text"), col("doc_id"), n = 3, threshold = 0.5)
      .select(col("da"), col("db"), round(col("jacc"), 4).as("jacc"))
      .orderBy("da", "db"),
    Some("WITH " + duckJaccardCtes +
      " SELECT da, db, round(jacc, 4) AS jacc FROM jpairs ORDER BY da, db"))

  /** Near-dup clustering: connected components over the Jaccard pair
    * graph (min doc id = cluster id). Spark runs iterative min-label
    * propagation; the oracle computes min-reachable via a recursive CTE
    * — different algorithms, identical fixpoint.
    */
  private val qDedupClusters = Q("q_dedup_clusters",
    (s, d) => Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(
        t(s, d, "documents"), col("text"), col("doc_id"), n = 3, threshold = 0.5))
      .orderBy("doc_id"),
    Some("WITH RECURSIVE " + duckJaccardCtes + ", " +
      "edges AS (SELECT da AS src, db AS dst FROM jpairs " +
      "UNION ALL SELECT db, da FROM jpairs), " +
      "reach(node, lab) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node) " +
      "SELECT node AS doc_id, min(lab) AS cluster_id FROM reach " +
      "GROUP BY node ORDER BY doc_id"))

  /** [EXT] L114 incremental dup-graph refresh under the cross-engine
    * gate ([[Dedup.refreshDupGraph]]): the corpus splits into two
    * id-disjoint ingest days (doc_id parity), day-1 builds a graph,
    * day-2 FOLDS IN through the incremental path — batch self-join +
    * batch×stored-index cross join + a cluster-summary-seeded
    * contraction, never a union-corpus re-enumeration — and the oracle
    * replays the FULL-corpus fixpoint (q_dedup_clusters' recursive
    * CTE): refresh == rebuild, now hash-checked against DuckDB per
    * round instead of only spec-pinned. Caches the build persists are
    * released before returning (clusters are checkpoint-backed), so
    * bench passes never reuse a prior pass's pair cache.
    *
    * Runs over the doc_id % 4 == 0 quarter-slice: the row gates the
    * refresh PATH's semantics (both pair-enumeration shapes + the
    * seeded contraction), and the full-corpus enumeration cost is
    * already priced by q_dedup_clusters — paying it twice more here
    * would bench the same plan three times.
    *
    * Scale posture: the day-2 cost class the durable lifecycle ships —
    * batch-sized shuffles against a stored side that is exchange-free
    * when bucketed (DedupSpec plan audit); here both days build
    * in-plan so the oracle can see them.
    */
  private val qDedupRefresh = Q("q_dedup_refresh",
    (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 4 === 0)
      val g1 = Dedup.dupGraph(docs.filter(col("doc_id") % 8 === 0),
        col("text"), col("doc_id"))
      val g2 = Dedup.refreshDupGraph(g1,
        docs.filter(col("doc_id") % 8 === 4), col("text"), col("doc_id"))
      val out = g2.clusters.orderBy("doc_id")
      g2.unpersist() // releases day-2 pair/index caches
      g1.unpersist() // releases day-1 pair cache; clusters stay valid
      out
    },
    Some("WITH RECURSIVE docs4 AS (SELECT * FROM documents " +
      "WHERE doc_id % 4 = 0), " + duckJaccardCtesOver("docs4") + ", " +
      "edges AS (SELECT da AS src, db AS dst FROM jpairs " +
      "UNION ALL SELECT db, da FROM jpairs), " +
      "reach(node, lab) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node) " +
      "SELECT node AS doc_id, min(lab) AS cluster_id FROM reach " +
      "GROUP BY node ORDER BY doc_id"))

  /** End-to-end dedup decision: the corpus after near-dup removal —
    * unique docs plus each cluster's min-id survivor. Same recursive-CTE
    * fixpoint oracle as q_dedup_clusters, applied back to documents.
    */
  /** Shared recursive-CTE near-dup cluster table (edges → reachability
    * → min-label clusters over the exact Jaccard pairs) — ONE
    * definition consumed by q_dedup_corpus and q_dedup_by_source.
    */
  private val duckCcClusters: String =
    "WITH RECURSIVE " + duckJaccardCtes + ", " +
      "edges AS (SELECT da AS src, db AS dst FROM jpairs " +
      "UNION ALL SELECT db, da FROM jpairs), " +
      "reach(node, lab) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node), " +
      "clusters AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)"

  private val qDedupCorpus = Q("q_dedup_corpus",
    (s, d) => {
      val docs = t(s, d, "documents")
      val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
          n = 3, threshold = 0.5))
      Dedup.survivors(docs, col("doc_id"), clusters).orderBy("doc_id")
    },
    Some(duckCcClusters +
      " SELECT d.doc_id, c.cluster_id FROM documents d " +
      "LEFT JOIN clusters c ON d.doc_id = c.node " +
      "WHERE c.cluster_id IS NULL OR d.doc_id = c.cluster_id " +
      "ORDER BY d.doc_id"))

  /** [EXT] L110 dedup impact by source ([[Dedup.dedupBySource]]): per
    * source, docs and token mass before/after min-id survivor dedup,
    * with the doc loss in exact bps — the "WHICH domains are
    * duplicated" QA that decides whether a source's quota should be
    * priced pre- or post-dedup (a mirror-heavy source's raw token
    * count wildly overstates its usable mass). One pair enumeration +
    * contraction (the q_dedup_corpus cost class), then a domain-sized
    * rollup riding a cluster-table join. The oracle shares ONE
    * recursive-CTE cluster definition with q_dedup_corpus.
    */
  private val qDedupBySource = Q("q_dedup_by_source",
    (s, d) => Dedup.dedupBySource(t(s, d, "documents"),
        col("text"), col("doc_id"), col("source"))
      .orderBy("source"),
    Some(duckCcClusters +
      ", q AS (SELECT d.doc_id, d.source, " +
      "CAST(coalesce(len(string_split(d.text, ' ')), 0) AS BIGINT) " +
      "AS n_tok, (c.cluster_id IS NULL OR d.doc_id = c.cluster_id) " +
      "AS kept FROM documents d LEFT JOIN clusters c " +
      "ON d.doc_id = c.node) " +
      "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
      "CAST(floor((count(*) - sum(CASE WHEN kept THEN 1 ELSE 0 END)) " +
      "* 10000 / count(*)) AS BIGINT) AS lost_bps, " +
      "CAST(sum(n_tok) AS BIGINT) AS n_tok, " +
      "CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) " +
      "AS tok_kept FROM q GROUP BY source ORDER BY source NULLS FIRST"))

  // --------------------------------------------------- corpus assembly

  /** Deterministic stratified sampling: downsample en to 25% and de to
    * 50% by content hash of the key — basis-point exact, reproducible
    * across engines (same md5 arithmetic on both sides).
    */
  private val qSampleStratified = Q("q_sample_stratified",
    (s, d) => Sampling.hashSample(
      t(s, d, "documents"), col("doc_id"), col("lang"),
      rates = Map("en" -> 0.25, "de" -> 0.5))
      .select("doc_id", "lang").orderBy("doc_id"),
    Some("SELECT doc_id, lang FROM documents WHERE " +
      TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") + " % 10000 < " +
      "(CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 5000 ELSE 10000 END) " +
      "ORDER BY doc_id"))

  /** [EXT] L15d deterministic train/val/test holdout
    * ([[graft.ext.Sampling.trainValTestSplit]]): 80/10/10 hash-band
    * assignment keyed on doc_id, audited per (source, split) —
    * the summary a pipeline owner reads to confirm the bands hold
    * inside every stratum. Assignment is corpus-growth-stable (new
    * docs never move old docs between splits), the leakage-safety
    * property RNG splits lack. Zero-shuffle projection + one audit agg.
    */
  private val qTrainSplit = Q("q_train_split",
    (s, d) => Sampling.trainValTestSplit(
      t(s, d, "documents"), col("doc_id"),
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("source", "split"),
    Some("WITH h AS (SELECT source, n_chars, " +
      TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") +
      " % 10000 AS hb FROM documents) " +
      "SELECT source, CASE WHEN hb < 8000 THEN 'train' " +
      "WHEN hb < 9000 THEN 'val' ELSE 'test' END AS split, " +
      "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
      "FROM h GROUP BY 1, 2 ORDER BY source NULLS FIRST, split"))

  /** [EXT] L15b weighted (importance) sampling: inclusion probability
    * proportional to document length — keep iff hash(doc_id) % 10000 <
    * min(10000, n_chars * 25) (graft.ext.Sampling.weightedHashSample).
    * The x25 scale makes the fixture exercise BOTH regimes: short docs
    * sample proportionally, docs >= 400 chars hit the min() cap and
    * keep with certainty. Deterministic, monotone in the weight, zero
    * shuffle.
    */
  private val qSampleWeighted = Q("q_sample_weighted",
    (s, d) => Sampling.weightedHashSample(
      t(s, d, "documents"), col("doc_id"),
      col("n_chars") * lit(25L))
      .select("doc_id", "n_chars").orderBy("doc_id"),
    Some("SELECT doc_id, n_chars FROM documents WHERE " +
      TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") + " % 10000 < " +
      "least(10000, n_chars * 25) ORDER BY doc_id"))

  /** Concat-and-split sequence packing into 512-token windows over 8
    * hash shards: each doc gets the pack index + token offset where it
    * lands. Oracle replicates the per-shard running-sum window.
    */
  private val qPackSequences = Q("q_pack_sequences",
    (s, d) => Sampling.packSequences(
      t(s, d, "documents"), col("doc_id"), col("text"),
      contextLen = 512, shards = 8)
      .orderBy("doc_id"),
    Some("WITH t AS (SELECT doc_id, " +
      TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") + " % 8 AS shard, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
      "c AS (SELECT doc_id, shard, n_tok, sum(n_tok) OVER (" +
      "PARTITION BY shard ORDER BY doc_id) AS cum FROM t) " +
      "SELECT doc_id, shard, n_tok, " +
      "CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS pack_id, " +
      "CAST((cum - n_tok) % 512 AS BIGINT) AS pack_offset " +
      "FROM c ORDER BY doc_id"))

  /** The EXT flagship: one composed plan running the whole curation
    * pipeline — quality gate, near-dup dedup with survivor election,
    * stratified downsampling, sequence packing. Exercises that the
    * operators compose as `DataFrame -> DataFrame` stages inside a
    * single Catalyst-optimized query; the oracle replays every stage
    * (incl. the recursive-CTE clustering fixpoint) over the same data.
    */
  // lazy: references the duck* text-analysis fragments defined below
  private lazy val qPipelineCorpus = Q("q_pipeline_corpus",
    (s, d) => {
      // materialized once: the quality gate (a CodegenFallback HOF
      // filter) has four consumers in the composed plan — the shingle
      // index's two join sides, the survivor semi-join, and the
      // sample/pack chain — and would otherwise re-evaluate per
      // consumer (measured 15 s vs ~4 s at sf0.1). localCheckpoint,
      // not persist: a persist would be deduped by the CacheManager
      // across repeated constructions of this query (each bench pass
      // would re-read the first pass's cache, understating the min)
      // and would stay pinned for the rest of the session; checkpoint
      // blocks are per-invocation and reclaimed by the ContextCleaner.
      val good = t(s, d, "documents")
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        .localCheckpoint()
      val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(good, col("text"), col("doc_id"),
          n = 3, threshold = 0.5))
      val kept = good.join(
        Dedup.survivors(good, col("doc_id"), clusters).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val sampled = Sampling.hashSample(kept, col("doc_id"), col("lang"),
        rates = Map("en" -> 0.5))
      Sampling.packSequences(sampled, col("doc_id"), col("text"),
        contextLen = 512, shards = 4)
        .orderBy("doc_id")
    },
    Some("WITH RECURSIVE good AS (SELECT doc_id, lang, text FROM documents " +
      s"WHERE least(1.0, CAST($duckNTok AS DOUBLE) / 200.0) * 0.5 + " +
      s"least(1.0, $duckStopRatio * 10.0) * 0.5 >= 0.5), " +
      duckJaccardCtesOver("good") + ", " +
      "edges AS (SELECT da AS src, db AS dst FROM jpairs " +
      "UNION ALL SELECT db, da FROM jpairs), " +
      "reach(node, lab) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node), " +
      "clusters AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node), " +
      "kept AS (SELECT g.doc_id, g.lang, g.text FROM good g " +
      "LEFT JOIN clusters c ON g.doc_id = c.node " +
      "WHERE c.cluster_id IS NULL OR g.doc_id = c.cluster_id), " +
      "samp AS (SELECT * FROM kept WHERE " +
      TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") + " % 10000 < " +
      "(CASE lang WHEN 'en' THEN 5000 ELSE 10000 END)), " +
      "t0 AS (SELECT doc_id, " +
      TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") + " % 4 AS shard, " +
      s"CAST($duckNTok AS BIGINT) AS n_tok FROM samp), " +
      "c0 AS (SELECT doc_id, shard, n_tok, sum(n_tok) OVER (" +
      "PARTITION BY shard ORDER BY doc_id) AS cum FROM t0) " +
      "SELECT doc_id, shard, n_tok, " +
      "CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS pack_id, " +
      "CAST((cum - n_tok) % 512 AS BIGINT) AS pack_offset " +
      "FROM c0 ORDER BY doc_id"))

  /** Eval-set decontamination at the standard 13-gram exact-match
    * configuration (any single shared 13-gram flags the doc) — the
    * filter most published training runs apply, vs q_decontaminate's
    * looser 3-gram-overlap screen. Same operator, production params.
    */
  private val qDecontaminate13 = Q("q_decontaminate13",
    (s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.contaminated(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        col("text"), col("doc_id"), n = 13, minShared = 1)
        .orderBy("doc_id")
    },
    Some("WITH ev AS (SELECT DISTINCT " + TextHash.duckBaseHash("s0") +
      " AS s FROM (SELECT unnest(list_distinct(" +
      TextHash.duckShingles("text", 13) +
      ")) AS s0 FROM documents WHERE doc_id < 25)), " +
      "co AS (SELECT doc_id, " + TextHash.duckBaseHash("s0") +
      " AS s FROM (SELECT doc_id, unnest(list_distinct(" +
      TextHash.duckShingles("text", 13) +
      ")) AS s0 FROM documents WHERE doc_id >= 25)) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams " +
      "FROM co JOIN ev USING (s) GROUP BY doc_id " +
      "HAVING count(*) >= 1 ORDER BY doc_id"))

  /** The loader-prep composition: chunk long documents into 64-token
    * windows (stride 48), then pack the CHUNKS into 512-token training
    * sequences over 4 shards — chunk rows are the packing unit, keyed
    * by doc_id * 100000 + chunk_id. One explode + one shuffle total.
    */
  private val qChunkPack = Q("q_chunk_pack",
    (s, d) => {
      val chunks = Sampling.chunkTokens(
        t(s, d, "documents"), col("doc_id"), col("text"), win = 64, stride = 48)
      Sampling.packCounted(chunks,
        col("doc_id") * 100000 + col("chunk_id"), col("n_tok"),
        contextLen = 512, shards = 4)
        .withColumnRenamed("doc_id", "chunk_key")
        .orderBy("chunk_key")
    },
    Some("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents), " +
      "st AS (SELECT doc_id, tok, unnest(generate_series(0, len(tok) - 1, 48)) AS start FROM tk), " +
      "ch AS (SELECT doc_id * 100000 + (start // 48) AS ck, " +
      "CAST(len(tok[start + 1 : start + 64]) AS BIGINT) AS n_tok FROM st), " +
      "t0 AS (SELECT ck, " +
      TextHash.duckBaseHash("CAST(ck AS VARCHAR)") + " % 4 AS shard, n_tok FROM ch), " +
      "c0 AS (SELECT ck, shard, n_tok, sum(n_tok) OVER (" +
      "PARTITION BY shard ORDER BY ck) AS cum FROM t0) " +
      "SELECT ck AS chunk_key, shard, n_tok, " +
      "CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS pack_id, " +
      "CAST((cum - n_tok) % 512 AS BIGINT) AS pack_offset " +
      "FROM c0 ORDER BY chunk_key"))

  // ------------------------------------------------- similarity search

  /** The embeddings table's declared model dimension: the cosine-space
    * family drops RAGGED rows (length != this) as corrupt up front —
    * see [[Similarity.withNorm]]'s dim rule and the `len(embedding)`
    * guard in [[duckEmbUnit]]. The null fixture carries ragged rows to
    * gate the drop cross-engine (DuckDB's list_dot_product hard-errors
    * on unequal lengths where Spark's kernel yields a silently-sinking
    * NULL — without the shared drop the engines diverge).
    */
  private val EmbDim = 64

  /** The suite's norm-gated embeddings frame ([[Similarity.withNorm]]
    * with the declared dimension) — ONE definition so every
    * cosine-family query applies the same corrupt-row contract.
    */
  private def embNorm(s: SparkSession, d: String): DataFrame =
    Similarity.withNorm(t(s, d, "embeddings"),
      col("vec_id"), col("embedding"), dim = EmbDim)

  /** Valid-vector predicate mirroring [[Similarity.withNorm]]'s
    * row-drop contract: NULL and empty vectors carry no direction and
    * never enter the cosine family on either engine.
    */
  private val duckEmbValid =
    "embedding IS NOT NULL AND len(embedding) > 0"

  /** [[duckEmbValid]] plus the zero-norm drop (withNorm's full rule):
    * an all-zero vector has no direction and would NaN every cosine.
    * Kept separate because direction-free consumers (q_jl_project,
    * q_quantize_int8's row-preserving transform) use the weaker form.
    */
  private val duckEmbUnit =
    duckEmbValid + " AND len(embedding) = 64 " +
      "AND list_dot_product(CAST(embedding AS DOUBLE[]), " +
      "CAST(embedding AS DOUBLE[])) > 0"

  private val duckNormCte =
    "WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
      s"CAST(embedding AS DOUBLE[]))) AS nm FROM embeddings WHERE $duckEmbUnit)"

  /** [EXT] L7b filtered vector search: top-k cosine neighbors among
    * corpus vectors matching a metadata predicate (label = 1) —
    * PRE-filtering, the exact semantics vector stores approximate with
    * post-filter over-fetch. In Spark the predicate simply composes
    * under the search (Catalyst pushes it into the corpus scan), so
    * recall is exact by construction at any selectivity, and the same
    * broadcast + WindowGroupLimit shape as L7 carries over.
    */
  private val qAnnFiltered = Q("q_ann_filtered",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = Similarity.withNorm(emb, col("vec_id"),
        col("embedding"), dim = EmbDim)
        .filter(col("vec_id") < 5)
      val corpus = Similarity.withNorm(emb.filter(col("label") === 1),
        col("vec_id"), col("embedding"), dim = EmbDim)
      Similarity.bruteForceTopK(queries, corpus, k = 10)
        .select(col("qid"), col("vec_id"), col("rnk").cast("long").as("rnk"),
          round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rnk")
    },
    Some("WITH nf AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v, " +
      "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
      s"CAST(embedding AS DOUBLE[]))) AS nm FROM embeddings WHERE $duckEmbUnit), " +
      "s AS (SELECT q.vec_id AS qid, c.vec_id, " +
      "list_dot_product(q.v, c.v) / (q.nm * c.nm) AS cos " +
      "FROM nf q JOIN nf c ON q.vec_id < 5 AND c.label = 1 " +
      "AND c.vec_id <> q.vec_id), " +
      "r AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk FROM s) " +
      "SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 4) AS cos " +
      "FROM r WHERE rnk <= 10 ORDER BY qid, rnk"))

  private val qEmbedCosine = Q("q_embed_cosine",
    (s, d) => Similarity.cosinePairs(
      t(s, d, "embeddings"), col("vec_id"), col("embedding"),
      threshold = 0.4, dim = EmbDim)
      .select(col("va"), col("vb"), round(col("cos"), 4).as("cos"))
      .orderBy("va", "vb"),
    Some(duckNormCte +
      " SELECT a.vec_id AS va, b.vec_id AS vb, " +
      "round(list_dot_product(a.v, b.v) / (a.nm * b.nm), 4) AS cos " +
      "FROM n a JOIN n b ON a.vec_id < b.vec_id " +
      "WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= 0.4 ORDER BY va, vb"))

  /** DuckDB list literal for one hyperplane, each float widened to
    * double and printed with round-trip precision (Scala Double.toString
    * is shortest-exact; DuckDB parses back to the identical double).
    */
  private def duckPlane(p: Array[Float]): String =
    "CAST([" + p.map(_.toDouble.toString).mkString(", ") + "] AS DOUBLE[])"

  /** Embedding near-dup via sign-projection LSH — the 100 TB scale path
    * (bucket-mates only; cost follows collisions, never n²). The oracle
    * replicates the exact bucketing: same seeded hyperplanes inlined as
    * DuckDB literals, same sign-bit signatures, same bucket equi-join —
    * so this checks the LSH operator itself, not just its recall.
    */
  private val qEmbedLsh = {
    val (dim, bits, tables, seed) = (64, 8, 4, 42L)
    val planes = Similarity.signPlanes(dim, bits, tables, seed)
    val buckSql = (0 until tables).map { tb =>
      val sig = (0 until bits).map { b =>
        s"(CASE WHEN list_dot_product(v, ${duckPlane(planes(tb)(b))}) >= 0 " +
          s"THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $tb AS tbl, $sig AS sig FROM n"
    }.mkString(" UNION ALL ")
    Q("q_embed_lsh",
      (s, d) => Similarity.signLshPairs(
        t(s, d, "embeddings"), col("vec_id"), col("embedding"), dim = dim,
        threshold = 0.4, bits = bits, tables = tables, seed = seed)
        .select(col("va"), col("vb"), round(col("cos"), 4).as("cos"))
        .orderBy("va", "vb"),
      Some(duckNormCte + s", buck AS ($buckSql), " +
        "cand AS (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb FROM buck x " +
        "JOIN buck y ON x.tbl = y.tbl AND x.sig = y.sig AND x.vec_id < y.vec_id) " +
        "SELECT va, vb, round(list_dot_product(a.v, b.v) / (a.nm * b.nm), 4) AS cos " +
        "FROM cand JOIN n a ON va = a.vec_id JOIN n b ON vb = b.vec_id " +
        "WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= 0.4 " +
        "ORDER BY va, vb"))
  }

  private val qAnnTopk = Q("q_ann_topk",
    (s, d) => {
      val n = embNorm(s, d)
      Similarity.bruteForceTopK(n.filter(col("vec_id") < 5), n, k = 10)
        .select(col("qid"), col("vec_id"), col("rnk").cast("long").as("rnk"),
          round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rnk")
    },
    Some(duckNormCte + ", s AS (SELECT q.vec_id AS qid, c.vec_id, " +
      "list_dot_product(q.v, c.v) / (q.nm * c.nm) AS cos " +
      "FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id), " +
      "r AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk FROM s) " +
      "SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 4) AS cos " +
      "FROM r WHERE rnk <= 10 ORDER BY qid, rnk"))

  private val qAnnIvf = Q("q_ann_ivf",
    (s, d) => {
      val n = embNorm(s, d)
      Similarity.ivfTopK(
        corpus = n,
        centroids = n.filter(col("vec_id") % 100 === 0),
        queries = n.filter(col("vec_id").isin(1, 2, 3, 4)),
        k = 5)
        .select(col("qid"), col("vec_id"), col("rnk").cast("long").as("rnk"),
          round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rnk")
    },
    Some(duckNormCte + ", cent AS (SELECT * FROM n WHERE vec_id % 100 = 0), " +
      "asg AS (SELECT vec_id, v, nm, cid FROM (" +
      "SELECT n.vec_id, n.v, n.nm, c.vec_id AS cid, row_number() OVER (" +
      "PARTITION BY n.vec_id ORDER BY " +
      "list_dot_product(n.v, c.v) / (n.nm * c.nm) DESC, c.vec_id) AS rn " +
      "FROM n CROSS JOIN cent c) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS qid, v AS qv, nm AS qn, cid FROM asg " +
      "WHERE vec_id IN (1, 2, 3, 4)), " +
      "s AS (SELECT q.qid, a.vec_id, " +
      "list_dot_product(q.qv, a.v) / (q.qn * a.nm) AS cos " +
      "FROM asg a JOIN q ON a.cid = q.cid AND a.vec_id <> q.qid), " +
      "r AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk FROM s) " +
      "SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 4) AS cos " +
      "FROM r WHERE rnk <= 5 ORDER BY qid, rnk"))

  /** Multi-probe IVF (nprobe = 3): each query scans its three nearest
    * Voronoi cells instead of one — the recall knob at its first
    * useful setting. Oracle replicates assignment, per-query centroid
    * ranking, and the probed-cell candidate join exactly.
    */
  private val qAnnIvfProbe = Q("q_ann_ivf_probe",
    (s, d) => {
      val n = embNorm(s, d)
      Similarity.ivfTopK(
        corpus = n,
        centroids = n.filter(col("vec_id") % 100 === 0),
        queries = n.filter(col("vec_id").isin(1, 2, 3, 4)),
        k = 5, nprobe = 3)
        .select(col("qid"), col("vec_id"), col("rnk").cast("long").as("rnk"),
          round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rnk")
    },
    Some(duckNormCte + ", cent AS (SELECT * FROM n WHERE vec_id % 100 = 0), " +
      "asg AS (SELECT vec_id, v, nm, cid FROM (" +
      "SELECT n.vec_id, n.v, n.nm, c.vec_id AS cid, row_number() OVER (" +
      "PARTITION BY n.vec_id ORDER BY " +
      "list_dot_product(n.v, c.v) / (n.nm * c.nm) DESC, c.vec_id) AS rn " +
      "FROM n CROSS JOIN cent c) WHERE rn = 1), " +
      "qv AS (SELECT vec_id AS qid, v AS qv, nm AS qn FROM asg " +
      "WHERE vec_id IN (1, 2, 3, 4)), " +
      "pr AS (SELECT qid, qv, qn, cid FROM (" +
      "SELECT q.qid, q.qv, q.qn, c.vec_id AS cid, row_number() OVER (" +
      "PARTITION BY q.qid ORDER BY " +
      "list_dot_product(q.qv, c.v) / (q.qn * c.nm) DESC, c.vec_id) AS rn " +
      "FROM qv q CROSS JOIN cent c) WHERE rn <= 3), " +
      "s AS (SELECT pr.qid, a.vec_id, " +
      "list_dot_product(pr.qv, a.v) / (pr.qn * a.nm) AS cos " +
      "FROM asg a JOIN pr ON a.cid = pr.cid AND a.vec_id <> pr.qid), " +
      "r AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk FROM s) " +
      "SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 4) AS cos " +
      "FROM r WHERE rnk <= 5 ORDER BY qid, rnk"))

  /** Int8 embedding quantization — the ANN memory lever (4x vs
    * float32). Oracle replicates the exact floor-based rounding; the
    * quantized vector is flattened to a string for dialect-proof
    * comparison (like q_group_collect's arrays).
    */
  private val qQuantizeInt8 = Q("q_quantize_int8",
    (s, d) => Similarity.quantizeInt8(
      t(s, d, "embeddings"), col("vec_id"), col("embedding"))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        // element-wise array cast (codegen'd), not a transform lambda
        array_join(col("q").cast("array<string>"), ",").as("q"))
      .orderBy("vec_id"),
    Some("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v), " +
      "sc AS (SELECT vec_id, v, CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale FROM m) " +
      "SELECT vec_id, round(scale, 6) AS scale, " +
      // array_to_string([]) is NULL in DuckDB but '' in Spark; only a
      // NULL vector maps to NULL q (null-fixture class)
      "CASE WHEN v IS NULL THEN NULL ELSE coalesce(" +
      "array_to_string(list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)), ','), '') END AS q " +
      "FROM sc ORDER BY vec_id"))

  /** ANN over the int8-quantized corpus: integer dot products in the
    * hot loop (graft_dot_int), scales cancel in the cosine. The
    * arithmetic is exact in both engines (|q_i| <= 127 keeps every
    * product sum below 2^53), so the oracle matches bit-for-bit —
    * this verifies the quantized SCAN, complementing q_quantize_int8's
    * storage check and the recall property test.
    */
  private val qAnnQuantized = Q("q_ann_quantized",
    (s, d) => {
      val n = Similarity.withQuantNorm(
        t(s, d, "embeddings"), col("vec_id"), col("embedding"),
        dim = EmbDim)
      Similarity.quantizedTopK(n.filter(col("vec_id") < 5), n, k = 10)
        .select(col("qid"), col("vec_id"), col("rnk").cast("long").as("rnk"),
          round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rnk")
    },
    Some(s"WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE $duckEmbUnit), " +
      "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v), " +
      "sc AS (SELECT vec_id, v, CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale FROM m), " +
      "qz AS (SELECT vec_id, list_transform(v, x -> floor(x * scale + 0.5)) AS q FROM sc), " +
      "nn AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nm FROM qz), " +
      "s AS (SELECT a.vec_id AS qid, b.vec_id, " +
      "list_dot_product(a.q, b.q) / (a.nm * b.nm) AS cos " +
      "FROM nn a JOIN nn b ON a.vec_id < 5 AND b.vec_id <> a.vec_id), " +
      "r AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk FROM s) " +
      "SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 4) AS cos " +
      "FROM r WHERE rnk <= 10 ORDER BY qid, rnk"))

  /** Asymmetric quantized ANN: float queries against the int8 corpus
    * (the SQ8 serving pattern — quantize what's big, keep what's small
    * precise). Mixed float x long dot; corpus scales cancel; exact in
    * both engines after long→double widening.
    */
  private val qAnnAsymmetric = Q("q_ann_asymmetric",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val fq = Similarity.withNorm(emb, col("vec_id"),
        col("embedding"), dim = EmbDim)
        .filter(col("vec_id") < 5)
      val qc = Similarity.withQuantNorm(emb, col("vec_id"),
        col("embedding"), dim = EmbDim)
      Similarity.asymmetricTopK(fq, qc, k = 10)
        .select(col("qid"), col("vec_id"), col("rnk").cast("long").as("rnk"),
          round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rnk")
    },
    Some(s"WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE $duckEmbUnit), " +
      "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v), " +
      "sc AS (SELECT vec_id, v, CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale FROM m), " +
      "qz AS (SELECT vec_id, list_transform(v, x -> floor(x * scale + 0.5)) AS q FROM sc), " +
      "nn AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nm FROM qz), " +
      "fq AS (SELECT vec_id AS qid, v AS qv, " +
      "sqrt(list_dot_product(v, v)) AS qn FROM v WHERE vec_id < 5), " +
      "s AS (SELECT fq.qid, c.vec_id, " +
      "list_dot_product(fq.qv, c.q) / (fq.qn * c.nm) AS cos " +
      "FROM nn c JOIN fq ON c.vec_id <> fq.qid), " +
      "r AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk FROM s) " +
      "SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 4) AS cos " +
      "FROM r WHERE rnk <= 10 ORDER BY qid, rnk"))

  /** Sliding token-window chunking (64-token windows, stride 48):
    * overlapping context chunks for RAG / long-doc training prep.
    * Oracle replicates the window starts, clipped slices, and digests.
    */
  private val qChunkWindows = Q("q_chunk_windows",
    (s, d) => Sampling.chunkTokens(
      t(s, d, "documents"), col("doc_id"), col("text"), win = 64, stride = 48)
      .orderBy("doc_id", "chunk_id"),
    Some("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents), " +
      "st AS (SELECT doc_id, tok, unnest(generate_series(0, len(tok) - 1, 48)) AS start FROM tk), " +
      "ch AS (SELECT doc_id, start, tok[start + 1 : start + 64] AS chunk FROM st) " +
      "SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_id, " +
      "CAST(start AS BIGINT) AS start_tok, " +
      "CAST(len(chunk) AS BIGINT) AS n_tok, " +
      "md5(array_to_string(chunk, ' ')) AS chunk_md5 " +
      "FROM ch ORDER BY doc_id, chunk_id"))

  // ------------------------------------------------------ text analysis

  private val duckNTok = "len(string_split(text, ' '))"
  private val duckStop =
    "len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a'))"
  private val duckAvgW = s"CAST(length(text) - $duckNTok + 1 AS DOUBLE) / $duckNTok"
  private val duckStopRatio = s"CAST($duckStop AS DOUBLE) / $duckNTok"

  private val qLangId = Q("q_lang_id",
    (s, d) => t(s, d, "documents").select(
      col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("pred_lang"))
      .orderBy("doc_id"),
    Some("SELECT doc_id, lang, CASE " +
      s"WHEN $duckStopRatio >= 0.08 THEN 'en' " +
      s"WHEN $duckAvgW >= 4.8 THEN 'de' ELSE 'unk' END AS pred_lang " +
      "FROM documents ORDER BY doc_id"))

  private val qQualityScore = Q("q_quality_score",
    (s, d) => {
      val (nTok, _, _) = TextAnalysis.stats(col("text"))
      t(s, d, "documents").select(
        col("doc_id"), nTok.as("n_tok"),
        round(TextAnalysis.qualityScore(col("text")), 4).as("score"))
        .orderBy("doc_id")
    },
    Some(s"SELECT doc_id, $duckNTok AS n_tok, round(" +
      s"least(1.0, CAST($duckNTok AS DOUBLE) / 200.0) * 0.5 + " +
      s"least(1.0, $duckStopRatio * 10.0) * 0.5, 4) AS score " +
      "FROM documents ORDER BY doc_id"))

  private val qTokenCount = Q("q_token_count",
    (s, d) => {
      val (ws, bpe) = TextAnalysis.tokenCounts(col("text"))
      t(s, d, "documents").select(
        col("doc_id"), ws.as("ws_tokens"), bpe.cast("long").as("bpe_tokens"))
        .orderBy("doc_id")
    },
    Some(s"SELECT doc_id, $duckNTok AS ws_tokens, " +
      "len(regexp_extract_all(text, '[a-z]{1,4}')) AS bpe_tokens " +
      "FROM documents ORDER BY doc_id"))

  private val qFingerprint = Q("q_fingerprint",
    (s, d) => {
      val (fp48, fpMd5) = TextAnalysis.fingerprint(col("text"))
      t(s, d, "documents").select(
        col("doc_id"), fp48.as("fp48"), fpMd5.as("fp_md5"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, " + TextHash.duckBaseHash("text") + " AS fp48, " +
      "md5(text) AS fp_md5 FROM documents ORDER BY doc_id"))

  private val qTfidf = Q("q_tfidf",
    (s, d) => TextAnalysis.topTfidfTerms(
      t(s, d, "documents"), col("text"), col("doc_id"), k = 3)
      .select(col("doc_id"), col("term"), col("rnk").cast("long").as("rnk"),
        round(col("score"), 4).as("score"))
      .orderBy("doc_id", "rnk"),
    Some("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term " +
      "FROM documents), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
      "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
      "n AS (SELECT count(*) AS nd FROM documents), " +
      "scored AS (SELECT doc_id, term, tf * nd / CAST(df AS DOUBLE) AS score " +
      "FROM tf JOIN dfreq USING (term) CROSS JOIN n), " +
      "r AS (SELECT doc_id, term, score, row_number() OVER (" +
      "PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM scored) " +
      "SELECT doc_id, term, CAST(rnk AS BIGINT) AS rnk, round(score, 4) AS score " +
      "FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"))

  /** Decontamination vs an eval split (doc_id < 25 plays the benchmark
    * set): corpus docs sharing >= 3 distinct 3-grams with any eval doc.
    */
  private val qDecontaminate = Q("q_decontaminate",
    (s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.contaminated(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        col("text"), col("doc_id"), n = 3, minShared = 3)
        .orderBy("doc_id")
    },
    Some("WITH ev AS (SELECT DISTINCT " + TextHash.duckBaseHash("s0") +
      " AS s FROM (SELECT unnest(list_distinct(" +
      TextHash.duckShingles("text", 3) +
      ")) AS s0 FROM documents WHERE doc_id < 25)), " +
      "co AS (SELECT doc_id, " + TextHash.duckBaseHash("s0") +
      " AS s FROM (SELECT doc_id, unnest(list_distinct(" +
      TextHash.duckShingles("text", 3) +
      ")) AS s0 FROM documents WHERE doc_id >= 25)) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams " +
      "FROM co JOIN ev USING (s) GROUP BY doc_id " +
      "HAVING count(*) >= 3 ORDER BY doc_id"))

  /** Scrub audit: redact engine-term 'PII' stand-ins, report hit count
    * and the digest of the scrubbed text (oracle needs DuckDB's 'g'
    * flag to match Spark's replace-all).
    */
  private val qRedact = Q("q_redact",
    (s, d) => {
      val (scrubbed, hits) = TextAnalysis.redact(
        col("text"), "customer|supplier", "[X]")
      t(s, d, "documents").select(col("doc_id"),
        hits.cast("long").as("n_hits"),
        md5(scrubbed).as("redacted_md5"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, CAST(len(regexp_extract_all(text, " +
      "'customer|supplier')) AS BIGINT) AS n_hits, " +
      "md5(regexp_replace(text, 'customer|supplier', '[X]', 'g')) AS redacted_md5 " +
      "FROM documents ORDER BY doc_id"))

  /** Unicode NFC normalization — the cleanup step before any content
    * hashing (precomposed vs combining-mark forms of the same text
    * hash differently). Native codegen'd kernel; DuckDB nfc_normalize
    * is the oracle twin.
    */
  private val qNormalizeNfc = Q("q_normalize_nfc",
    (s, d) => {
      val n = graft.functions.HashFunctions.nfc(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        (col("text") === n).as("already_nfc"),
        md5(n).as("norm_md5"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, text = nfc_normalize(text) AS already_nfc, " +
      "md5(nfc_normalize(text)) AS norm_md5 FROM documents ORDER BY doc_id"))

  /** Gopher-rule repetition signal: within-doc bigram repetition. */
  private val qRepetition = Q("q_repetition",
    (s, d) => {
      val (total, dist, ratio) = TextAnalysis.repetitionRatio(col("text"), 2)
      t(s, d, "documents").select(col("doc_id"),
        total.as("n_grams"), dist.as("n_distinct"),
        round(ratio, 4).as("rep_ratio"))
        .orderBy("doc_id")
    },
    Some("WITH g AS (SELECT doc_id, " + TextHash.duckShingles("text", 2) +
      " AS gs FROM documents) SELECT doc_id, " +
      "CAST(len(gs) AS BIGINT) AS n_grams, " +
      "CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct, " +
      "round(CASE WHEN len(gs) > 0 THEN 1.0 - " +
      "CAST(len(list_distinct(gs)) AS DOUBLE) / CAST(len(gs) AS DOUBLE) " +
      "ELSE 0.0 END, 4) AS rep_ratio FROM g ORDER BY doc_id"))

  /** L23 per-domain quota (domain cap): keep at most k documents per
    * source, elected deterministically by content hash then doc id —
    * the web-corpus "no domain dominates the mix" rule. Rank-filter
    * shape: Spark rewrites the row_number filter to WindowGroupLimit,
    * so each partition retains only k rows during the sort — no full
    * per-domain materialization at 100 TB.
    */
  private val qDomainCap = Q("q_domain_cap",
    (s, d) => graft.ops.Windows.findFirstK(
      t(s, d, "documents"), Seq(col("source")),
      // nulls LAST explicitly on both engines: a doc with no content
      // hash must not win a cap slot over hashed ones
      Seq(TextHash.baseHash(col("text")).asc_nulls_last, col("doc_id")),
      k = 10, rankName = "rnk")
      .select(col("doc_id"), col("source"), col("rnk").cast("long").as("rnk"))
      .orderBy("doc_id"),
    Some("SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk FROM (" +
      "SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
      "ORDER BY " + TextHash.duckBaseHash("text") + " NULLS LAST, doc_id) AS rnk " +
      "FROM documents) WHERE rnk <= 10 ORDER BY doc_id"))

  /** [EXT] URL → registrable-domain canonicalization
    * ([[graft.ext.Urls.registrableDomain]]): the crawl-curation step
    * BEFORE q_domain_cap / q_corpus_mix can key on a real domain.
    * The fixture synthesizes 8 URL shapes per corpus row (scheme case,
    * userinfo, port, deep subdomains, a 2-label ccTLD registry, a
    * private-registry suffix, an IPv4 literal, an unknown TLD) from
    * (doc_id, source) — both engines build the identical strings, so
    * the oracle checks the whole parse+suffix pipeline, not the
    * generator. Canonicalization itself is a zero-shuffle codegen'd
    * projection; the only exchange is the per-domain count.
    *
    * Oracle parity envelope: the DuckDB host regex `([^/:?#]+)` and
    * Spark's `try_parse_url` (java.net.URI) agree on ASCII
    * alphanumeric/hyphen/dot hosts — the fixture's entire domain.
    * They diverge outside it: IPv6 bracket literals (`[::1]` — the
    * regex stops at `:`) and RFC-invalid hosts java.net.URI rejects
    * (underscores → Spark null, regex captures). Extending the
    * fixture toward raw-crawl URLs requires teaching the oracle
    * fragment the same bracket/validity rules first.
    */
  private val qUrlDomain = Q("q_url_domain",
    (s, d) => {
      val m = col("doc_id") % 8
      val url = when(m === 0,
          concat(lit("https://www."), col("source"), lit(".com/a/b?x=1")))
        .when(m === 1,
          concat(lit("http://blog."), col("source"), lit(".co.uk:8080/path/index.html")))
        .when(m === 2,
          concat(lit("https://user:pw@sub."), col("source"), lit(".org/")))
        .when(m === 3,
          concat(lit("https://cdn.media."), col("source"), lit(".io/file.bin")))
        .when(m === 4,
          concat(lit("https://"), col("source"), lit(".github.io/page#frag")))
        .when(m === 5,
          concat(lit("http://192.168.0."),
            (col("doc_id") % 200 + 1).cast("string"), lit("/x")))
        .when(m === 6,
          concat(lit("HTTPS://WWW."), upper(col("source")), lit(".COM.AU/Q?u=v")))
        .otherwise(concat(lit("https://"), col("source"), lit(".dev/about")))
      t(s, d, "documents")
        .select(Urls.registrableDomain(url).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n_docs"))
        .orderBy("domain")
    },
    Some("WITH u AS (SELECT CASE doc_id % 8 " +
      "WHEN 0 THEN 'https://www.' || source || '.com/a/b?x=1' " +
      "WHEN 1 THEN 'http://blog.' || source || '.co.uk:8080/path/index.html' " +
      "WHEN 2 THEN 'https://user:pw@sub.' || source || '.org/' " +
      "WHEN 3 THEN 'https://cdn.media.' || source || '.io/file.bin' " +
      "WHEN 4 THEN 'https://' || source || '.github.io/page#frag' " +
      "WHEN 5 THEN 'http://192.168.0.' || CAST(doc_id % 200 + 1 AS VARCHAR) || '/x' " +
      "WHEN 6 THEN 'HTTPS://WWW.' || upper(source) || '.COM.AU/Q?u=v' " +
      "ELSE 'https://' || source || '.dev/about' END AS url FROM documents), " +
      "h AS (SELECT nullif(regexp_replace(lower(regexp_extract(url, " +
      // \\.+$ mirrors Urls.host: ALL trailing dots stripped
      "'^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#]+)', 1)), '\\.+$', ''), '') " +
      "AS host FROM u), " +
      "s AS (SELECT host, string_split(host, '.') AS ls FROM h) " +
      "SELECT CASE WHEN regexp_matches(host, '^[0-9]{1,3}(\\.[0-9]{1,3}){3}$') THEN host " +
      "WHEN len(ls) >= 3 AND array_to_string(ls[-2:], '.') IN (" +
      Urls.TwoLabelSuffixes.map(x => s"'$x'").mkString(", ") +
      ") THEN array_to_string(ls[-3:], '.') " +
      "WHEN len(ls) >= 2 THEN array_to_string(ls[-2:], '.') " +
      "ELSE host END AS domain, count(*) AS n_docs " +
      "FROM s GROUP BY 1 ORDER BY domain NULLS FIRST"))

  /** L24 inverted index build: token -> document frequency + sorted
    * posting list, with a stop-word cap (df <= 78% of the corpus — a
    * document-RATIO, so the rule means the same thing at every scale)
    * ENFORCED IN THE PLAN, single lineage: dedup (token, doc_id) pairs,
    * attach df with a window count over the token partition, drop
    * stop-word-grade tokens, and only then collect postings. The
    * collect_list buffer is therefore bounded by the cap — a
    * billion-document stop word flows through the sort-based
    * (spillable) window and is discarded before any posting list
    * materializes, closing the unbounded-agg-buffer risk a
    * post-aggregation HAVING would leave open. The corpus size is a
    * one-row broadcast (the TF-IDF scalar pattern); the final
    * groupBy(token) reuses the window's token partitioning, so the
    * whole query is one scan + two exchanges and no row-level join.
    */
  /** [EXT] L26 edit-distance fuzzy vocabulary match
    * (graft.ext.Dedup.fuzzyPairs): the entity-resolution primitive —
    * distinct the attribute, block by its last token, pair within
    * blocks, keep levenshtein <= 4. Both engines implement classic
    * Levenshtein, so the distances are oracle-comparable.
    */
  private val qFuzzyPairs = Q("q_fuzzy_pairs",
    (s, d) => Dedup.fuzzyPairs(t(s, d, "part"),
      text = col("p_name"),
      block = substring_index(col("p_name"), " ", -1),
      maxDist = 4)
      .orderBy("name_a", "name_b"),
    Some("WITH names AS (SELECT DISTINCT p_name AS name, " +
      "split_part(p_name, ' ', -1) AS blk FROM part) " +
      "SELECT a.name AS name_a, b.name AS name_b, " +
      "CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist " +
      "FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name " +
      "WHERE levenshtein(a.name, b.name) <= 4 " +
      "ORDER BY name_a, name_b"))

  /** [EXT] L26c Jaro-Winkler vocabulary match
    * (graft.ext.Dedup.jaroWinklerPairs): the record-linkage scorer —
    * same blocking as L26, scored by the native codegen'd
    * [[graft.functions.JaroWinklerSim]] kernel whose semantics are
    * pinned byte-for-byte to DuckDB's jaro_winkler_similarity (match
    * window, 0.7 boost threshold, 4-byte prefix cap — see the kernel
    * scaladoc). Both the threshold and the emitted score use the
    * 4-decimal rounding so boundary rows agree across engines.
    */
  private val qJaroWinkler = Q("q_jaro_winkler",
    (s, d) => Dedup.jaroWinklerPairs(t(s, d, "part"),
      text = col("p_name"),
      block = substring_index(col("p_name"), " ", -1),
      minSim = 0.85)
      .orderBy("name_a", "name_b"),
    Some("WITH names AS (SELECT DISTINCT p_name AS name, " +
      "split_part(p_name, ' ', -1) AS blk FROM part) " +
      "SELECT a.name AS name_a, b.name AS name_b, " +
      "round(jaro_winkler_similarity(a.name, b.name), 4) AS sim " +
      "FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name " +
      "WHERE round(jaro_winkler_similarity(a.name, b.name), 4) >= 0.85 " +
      "ORDER BY name_a, name_b"))

  /** [EXT] L26b entity resolution end-to-end: fuzzy candidate pairs
    * (L26 blocking + levenshtein) -> connected components (the L13
    * contraction machinery, type-agnostic: nodes here are the name
    * strings) -> canonical-name election (lexicographic min per
    * cluster; unmatched names stay their own canonical). The full
    * dedupe-entities pipeline a catalog/reference-data team runs, as
    * ONE composed plan; oracle is an independent recursive-CTE
    * reachability over the same candidate edges.
    */
  private val qEntityResolution = Q("q_entity_resolution",
    (s, d) => {
      val names = t(s, d, "part").select(col("p_name")).distinct()
      val pairs = Dedup.fuzzyPairs(t(s, d, "part"), col("p_name"),
        substring_index(col("p_name"), " ", -1), maxDist = 4)
        .select(col("name_a").as("da"), col("name_b").as("db"))
      val cc = Dedup.connectedComponents(pairs)
      names.join(cc, names("p_name") === cc("doc_id"), "left")
        .select(col("p_name").as("name"),
          coalesce(col("cluster_id"), col("p_name")).as("canonical"))
        .orderBy("name")
    },
    Some("WITH RECURSIVE vocab AS (SELECT DISTINCT p_name AS name, " +
      "split_part(p_name, ' ', -1) AS blk FROM part), " +
      "fp AS (SELECT a.name AS da, b.name AS db FROM vocab a " +
      "JOIN vocab b ON a.blk = b.blk AND a.name < b.name " +
      "AND levenshtein(a.name, b.name) <= 4), " +
      "edges AS (SELECT da AS src, db AS dst FROM fp " +
      "UNION ALL SELECT db, da FROM fp), " +
      "reach(node, lab) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node), " +
      "cl AS (SELECT node, min(lab) AS canonical FROM reach GROUP BY node) " +
      "SELECT v.name, coalesce(cl.canonical, v.name) AS canonical " +
      "FROM (SELECT name FROM vocab) v LEFT JOIN cl ON v.name = cl.node " +
      "ORDER BY name"))

  private val qInvertedIndex = Q("q_inverted_index",
    (s, d) => {
      val docs = t(s, d, "documents")
      // corpus size for the stop-word cap: a doc_id-only column-pruned
      // scan (cheap at any scale), broadcast as a 1-row frame
      val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      // per-row array_distinct dedups (token, doc_id) with ZERO shuffle:
      // doc_id is unique per documents row, so post-explode pairs are
      // already globally distinct — the r8 shape exchanged the whole
      // pair set on (token, doc_id) just to rediscover that, which is
      // where its 3.3x regression lived. The only data-sized exchange
      // left is the token hash for the df window, and the final
      // (token, df) aggregate rides that same partitioning.
      val pairs = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
      pairs
        .withColumn("df", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("token")))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") * 100 <= col("n_docs") * 78)
        .groupBy("token", "df")
        .agg(array_join(
          sort_array(collect_list(col("doc_id"))).cast("array<string>"),
          ",").as("postings"))
        .select("token", "df", "postings")
        .orderBy("token")
    },
    Some("WITH p AS (SELECT DISTINCT doc_id, token FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)), " +
      "w AS (SELECT token, doc_id, count(*) OVER (PARTITION BY token) AS df FROM p) " +
      "SELECT token, df, " +
      "array_to_string(list_sort(list(doc_id)), ',') AS postings " +
      "FROM w WHERE df * 100 <= (SELECT count(DISTINCT doc_id) FROM documents) * 78 " +
      "GROUP BY token, df ORDER BY token"))

  /** [EXT] L27 token-budget source mixing
    * ([[Sampling.tokenBudgetMix]]): cap every source at 1200 tokens by
    * deriving per-source deterministic sampling rates from the token
    * totals — the "cap every domain" re-balancing step of a training
    * mix. One bounded aggregate, one broadcast join, one per-row
    * filter; no data-sized shuffle.
    */
  private val qCorpusMix = Q("q_corpus_mix",
    (s, d) => Sampling.tokenBudgetMix(t(s, d, "documents"),
        id = col("doc_id"), text = col("text"), source = col("source"),
        capTokens = 1200L)
      .orderBy("doc_id"),
    Some("WITH tc AS (SELECT doc_id, source, " +
      "len(string_split(text, ' ')) AS n_tok FROM documents), " +
      "st AS (SELECT source, sum(n_tok) AS src_tok FROM tc GROUP BY source), " +
      "r AS (SELECT source, least(10000, " +
      "CAST(floor(12000000 / src_tok) AS BIGINT)) AS rate_bps FROM st) " +
      "SELECT t.doc_id, t.source, CAST(t.n_tok AS BIGINT) AS n_tok " +
      "FROM tc t JOIN r USING (source) WHERE " +
      TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") +
      " % 10000 < r.rate_bps ORDER BY doc_id"))

  /** DuckDB twin of TextAnalysis.qualityBps (exact BIGINT arithmetic —
    * no double score ever crosses an engine boundary). The explicit
    * NULL-text guard is LOAD-BEARING: DuckDB's least() ignores NULLs
    * exactly like Spark's, so without it a null-text doc silently
    * scores least(5000, NULL) + least(5000, NULL) = a perfect 10000
    * while qualityBps scores NULL — the least()-collapse class on the
    * ORACLE side this time (null-fixture catch).
    */
  private val duckQbps =
    s"CASE WHEN text IS NULL THEN NULL ELSE least(5000, $duckNTok * 25) " +
      s"+ least(5000, CAST(floor(($duckStop * 50000) / $duckNTok) AS BIGINT)) END"

  /** [EXT] L28 quality-percentile cut: keep documents at or above the
    * corpus p75 of the INTEGER quality score. The threshold comes from
    * [[Aggregates.boundedQuantileThreshold]] — a histogram-cumulative
    * exact quantile whose window input is bounded by the score domain
    * (<= 10001 rows at any corpus size), broadcast back as a 1-row
    * cutoff. The integer score is what makes the cut reproducible: a
    * double score against a double threshold can flip borderline rows
    * between engines; BIGINTs cannot.
    */
  private val qQualityCut = Q("q_quality_cut",
    (s, d) => {
      val q = t(s, d, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.qualityBps(col("text")).as("quality_bps"))
      val thr = Aggregates.boundedQuantileThreshold(q, col("quality_bps"), 0.75)
      q.crossJoin(broadcast(thr))
        .filter(col("quality_bps") >= col("thr"))
        .select("doc_id", "source", "quality_bps")
        .orderBy("doc_id")
    },
    Some(s"WITH q AS (SELECT doc_id, source, $duckQbps AS quality_bps " +
      "FROM documents), " +
      "h AS (SELECT quality_bps AS v, count(*) AS c FROM q " +
      "WHERE quality_bps IS NOT NULL GROUP BY quality_bps), " +
      "cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cf, " +
      "(SELECT count(quality_bps) FROM q) AS n FROM h), " +
      "thr AS (SELECT min(v) AS thr FROM cum WHERE cf >= ceil(n * 0.75)) " +
      "SELECT doc_id, source, quality_bps FROM q, thr " +
      "WHERE quality_bps >= thr ORDER BY doc_id"))

  /** [EXT] L29 corpus bigram frequencies: top-20 word bigrams with a
    * total (count desc, bigram) ordering — the corpus-statistics probe
    * behind boilerplate detection and tokenizer audits. One partial-
    * aggregated shuffle + TakeOrderedAndProject; the explode never
    * materializes per-document lists.
    */
  private val qFreqBigrams = Q("q_freq_bigrams",
    (s, d) => t(s, d, "documents")
      .select(explode(graft.functions.TermFunctions.stringShingles(col("text"), 2))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20),
    Some("WITH b AS (SELECT unnest(" + TextHash.duckShingles("text", 2) +
      ") AS bigram FROM documents) " +
      "SELECT bigram, count(*) AS n FROM b GROUP BY bigram " +
      "ORDER BY n DESC, bigram LIMIT 20"))

  /** [EXT] L30 dup-graph triangle census ([[Dedup.triangleStats]]) over
    * the L26 fuzzy-pair edges: the structural QA signal for a dedup
    * candidate graph (triangles = three mutually-similar docs — almost
    * never hash noise). Oracle recomputes the same two-join
    * enumeration on DuckDB's own edge list.
    */
  private val qTriangleCount = Q("q_triangle_count",
    (s, d) => Dedup.triangleStats(
      Dedup.fuzzyPairs(t(s, d, "part"), col("p_name"),
        substring_index(col("p_name"), " ", -1), maxDist = 4),
      col("name_a"), col("name_b")),
    Some("WITH names AS (SELECT DISTINCT p_name AS name, " +
      "split_part(p_name, ' ', -1) AS blk FROM part), " +
      "fp AS (SELECT a.name AS da, b.name AS db FROM names a JOIN names b " +
      "ON a.blk = b.blk AND a.name < b.name " +
      "AND levenshtein(a.name, b.name) <= 4) " +
      "SELECT (SELECT count(*) FROM fp e1 " +
      "JOIN fp e2 ON e1.db = e2.da " +
      "JOIN fp e3 ON e3.da = e1.da AND e3.db = e2.db) AS n_triangles, " +
      "(SELECT count(*) FROM fp) AS n_edges"))

  /** [EXT] L31 n-gram containment pairs
    * ([[Dedup.ngramContainmentPairs]]): one-sided near-dup — a short
    * doc quoted whole inside a long one has tiny Jaccard but
    * containment ≈ 1. Same inverted-index candidates (and
    * ReusedExchange shape) as L5.
    */
  private val qContainment = Q("q_containment",
    (s, d) => Dedup.ngramContainmentPairs(
        t(s, d, "documents"), col("text"), col("doc_id"),
        n = 3, threshold = 0.8)
      .select(col("da"), col("db"),
        round(col("c_a_in_b"), 4).as("c_a_in_b"),
        round(col("c_b_in_a"), 4).as("c_b_in_a"))
      .orderBy("da", "db"),
    Some("WITH " + duckShingleInterOver("documents") + ", " +
      "cp AS (SELECT da, db, CAST(i AS DOUBLE) / sa.sz AS ca, " +
      "CAST(i AS DOUBLE) / sb.sz AS cb " +
      "FROM inter JOIN sizes sa ON da = sa.doc_id " +
      "JOIN sizes sb ON db = sb.doc_id " +
      "WHERE greatest(CAST(i AS DOUBLE) / sa.sz, " +
      "CAST(i AS DOUBLE) / sb.sz) >= 0.8) " +
      "SELECT da, db, round(ca, 4) AS c_a_in_b, round(cb, 4) AS c_b_in_a " +
      "FROM cp ORDER BY da, db"))

  /** [EXT] L32 deterministic fixed-point PageRank
    * ([[Graph.pagerankFixedPoint]]) over the L26 fuzzy-pair graph, two
    * unrolled power iterations: centrality for picking cluster
    * canonicals / crawl seeds. Exact BIGINT arithmetic end to end —
    * a floating-point PR sums doubles in shuffle order and is not
    * reproducible across partitionings, let alone engines; the oracle
    * unrolls the identical integer recurrence as CTEs.
    */
  private val qPagerank = Q("q_pagerank",
    (s, d) => Graph.pagerankFixedPoint(
        Dedup.fuzzyPairs(t(s, d, "part"), col("p_name"),
          substring_index(col("p_name"), " ", -1), maxDist = 4),
        col("name_a"), col("name_b"), iters = 2)
      .orderBy("node"),
    Some("WITH names AS (SELECT DISTINCT p_name AS name, " +
      "split_part(p_name, ' ', -1) AS blk FROM part), " +
      "fp AS (SELECT a.name AS da, b.name AS db FROM names a JOIN names b " +
      "ON a.blk = b.blk AND a.name < b.name " +
      "AND levenshtein(a.name, b.name) <= 4), " +
      "e AS (SELECT da AS u, db AS v FROM fp UNION ALL SELECT db, da FROM fp), " +
      "deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u), " +
      "nn AS (SELECT count(*) AS n FROM deg), " +
      "p0 AS (SELECT u, deg, 100000000 // n AS base, 100000000 // n AS pr " +
      "FROM deg, nn), " +
      "c0 AS (SELECT u, pr // deg AS c FROM p0), " +
      "i0 AS (SELECT e.v AS u, sum(c0.c) AS s FROM e JOIN c0 ON e.u = c0.u " +
      "GROUP BY e.v), " +
      "p1 AS (SELECT p0.u, p0.deg, p0.base, " +
      "(15 * p0.base) // 100 + (85 * coalesce(i0.s, 0)) // 100 AS pr " +
      "FROM p0 LEFT JOIN i0 ON p0.u = i0.u), " +
      "c1 AS (SELECT u, pr // deg AS c FROM p1), " +
      "i1 AS (SELECT e.v AS u, sum(c1.c) AS s FROM e JOIN c1 ON e.u = c1.u " +
      "GROUP BY e.v), " +
      "p2 AS (SELECT p1.u, p1.deg, p1.base, " +
      "(15 * p1.base) // 100 + (85 * coalesce(i1.s, 0)) // 100 AS pr " +
      "FROM p1 LEFT JOIN i1 ON p1.u = i1.u) " +
      "SELECT u AS node, CAST(pr AS BIGINT) AS pr FROM p2 ORDER BY node"))

  /** [EXT] L33 collocation mining ([[TextAnalysis.collocations]]):
    * top-20 bigrams by linearized PMI with a support cut — the
    * phrase/boilerplate-detection complement of raw bigram counts
    * (L29 ranks "the the" high on frequency; PMI ranks genuinely
    * associated pairs). Exact-integer counts, one IEEE division,
    * 4-decimal rounding — bit-stable cross-engine.
    */
  private val qCollocations = Q("q_collocations",
    (s, d) => TextAnalysis.collocations(
        t(s, d, "documents"), col("text"), minSupport = 5L)
      .orderBy(col("pmi_lin").desc, col("bigram"))
      .limit(20),
    Some("WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w " +
      "FROM documents), " +
      "uni AS (SELECT w, count(*) AS c FROM toks GROUP BY w), " +
      "nn AS (SELECT count(*) AS n FROM toks), " +
      "big AS (SELECT unnest(" + TextHash.duckShingles("text", 2) +
      ") AS bigram FROM documents), " +
      "bc AS (SELECT bigram, count(*) AS cab FROM big GROUP BY bigram " +
      "HAVING count(*) >= 5), " +
      "sc AS (SELECT bigram, cab, " +
      "round(CAST(cab AS DOUBLE) * nn.n / (u1.c * u2.c), 4) AS pmi_lin " +
      "FROM bc CROSS JOIN nn " +
      "JOIN uni u1 ON split_part(bigram, ' ', 1) = u1.w " +
      "JOIN uni u2 ON split_part(bigram, ' ', -1) = u2.w) " +
      "SELECT bigram, CAST(cab AS BIGINT) AS n_pair, pmi_lin FROM sc " +
      "ORDER BY pmi_lin DESC, bigram LIMIT 20"))

  /** [EXT] L34 per-node clustering coefficient
    * ([[Graph.clusteringCoefficients]]) on the L26 fuzzy-pair graph:
    * cc ≈ 1 marks genuine duplicate cliques, high-degree/low-cc marks
    * hub-like noise — the per-node refinement of the L30 census.
    */
  private val qClusteringCoef = Q("q_clustering_coef",
    (s, d) => Graph.clusteringCoefficients(
        Dedup.fuzzyPairs(t(s, d, "part"), col("p_name"),
          substring_index(col("p_name"), " ", -1), maxDist = 4),
        col("name_a"), col("name_b"))
      .orderBy("node"),
    Some("WITH names AS (SELECT DISTINCT p_name AS name, " +
      "split_part(p_name, ' ', -1) AS blk FROM part), " +
      "fp AS (SELECT a.name AS da, b.name AS db FROM names a JOIN names b " +
      "ON a.blk = b.blk AND a.name < b.name " +
      "AND levenshtein(a.name, b.name) <= 4), " +
      "deg AS (SELECT node, count(*) AS deg FROM " +
      "(SELECT da AS node FROM fp UNION ALL SELECT db FROM fp) GROUP BY node), " +
      "tri AS (SELECT e1.da AS a, e1.db AS b, e2.db AS c FROM fp e1 " +
      "JOIN fp e2 ON e1.db = e2.da " +
      "JOIN fp e3 ON e3.da = e1.da AND e3.db = e2.db), " +
      "tpn AS (SELECT node, count(*) AS tri FROM " +
      "(SELECT a AS node FROM tri UNION ALL SELECT b FROM tri " +
      "UNION ALL SELECT c FROM tri) GROUP BY node) " +
      "SELECT d.node, d.deg, CAST(coalesce(t.tri, 0) AS BIGINT) AS tri, " +
      "CASE WHEN d.deg >= 2 THEN round(CAST(coalesce(t.tri, 0) AS DOUBLE) " +
      "* 2 / (d.deg * (d.deg - 1)), 4) ELSE 0.0 END AS cc " +
      "FROM deg d LEFT JOIN tpn t ON d.node = t.node ORDER BY d.node"))

  /** [EXT] L35 exact-k weighted priority sample
    * ([[Sampling.prioritySample]]): bottom-50 by hash÷n_chars — the
    * deterministic bottom-k twin of weighted reservoir sampling, for
    * "exactly k rows, favor long documents" requests. Pure projection
    * + TakeOrderedAndProject, zero shuffle.
    */
  private val qSamplePriority = Q("q_sample_priority",
    (s, d) => Sampling.prioritySample(t(s, d, "documents"),
        key = col("doc_id"), weight = col("n_chars"), k = 50)
      .select(col("key").as("doc_id"), col("weight").as("n_chars"),
        col("priority")),
    // priority is emitted RAW: both engines compute the same IEEE-754
    // division (bit-identical), whereas round(x, 4) on a ~1e12 value
    // needs 16+ significant digits and flips the last digit per-engine
    Some("SELECT doc_id, n_chars, CAST(" +
      TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") +
      " AS DOUBLE) / n_chars AS priority " +
      "FROM documents WHERE n_chars > 0 ORDER BY priority, doc_id LIMIT 50"))

  /** [EXT] L36 passage-granularity duplication profile
    * ([[Dedup.duplicatePassageStats]]): per document, the fraction of
    * its 8-token passages occurring verbatim in other documents — the
    * fine-grained dup signal (boilerplate, syndication) that doc-level
    * near-dup misses. Inverted-index shape: one digest shuffle + one
    * doc rollup, nothing quadratic.
    */
  private val qDupPassages = Q("q_dup_passages",
    (s, d) => Dedup.duplicatePassageStats(t(s, d, "documents"),
        col("doc_id"), col("text"), win = 8)
      .orderBy("doc_id"),
    Some("WITH ch AS (SELECT doc_id, unnest(list_transform(" +
      "generate_series(1, len(string_split(text, ' ')), 8), " +
      "i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' ')))) AS h " +
      "FROM documents), " +
      "nd AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY h) " +
      "SELECT ch.doc_id, count(*) AS n_passages, " +
      "CAST(sum(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_dup_passages, " +
      "round(CAST(sum(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE) " +
      "/ count(*), 4) AS dup_frac " +
      "FROM ch JOIN nd USING (h) GROUP BY ch.doc_id ORDER BY ch.doc_id"))

  /** [EXT] L37 corpus-relative score calibration
    * ([[Aggregates.percentileRankBounded]]): every document's quality
    * score mapped to its exact percentile via the bounded histogram-CDF
    * (domain-bounded window + broadcast join back — never a corpus-wide
    * cume_dist sort). "Keep the top 30%" becomes `pct >= 0.7`.
    */
  private val qScorePercentile = Q("q_score_percentile",
    (s, d) => Aggregates.percentileRankBounded(
        t(s, d, "documents").select(col("doc_id"), col("n_chars")),
        col("n_chars"))
      .select("doc_id", "n_chars", "pct")
      .orderBy("doc_id"),
    Some("WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents " +
      "GROUP BY n_chars), " +
      "cdf AS (SELECT v, round(CAST(sum(c) OVER (ORDER BY v) AS DOUBLE) " +
      "/ (SELECT count(n_chars) FROM documents), 4) AS pct FROM h) " +
      "SELECT doc_id, n_chars, pct FROM documents JOIN cdf ON n_chars = v " +
      "ORDER BY doc_id"))

  /** [EXT] L107 per-source score normalization
    * ([[Aggregates.percentileRankBoundedBy]]): every doc's quality
    * score mapped to its percentile WITHIN its source — the
    * normalization that makes "keep the top 30% per source" a fair
    * cross-source cut (a global percentile lets one well-scoring
    * domain crowd out the rest; L37 is the global form). Bounded
    * histogram-CDF per source: windows see |sources|·|score domain|
    * rows at any corpus size, CDF broadcast back.
    */
  private val qScoreNorm = Q("q_score_norm",
    (s, d) => Aggregates.percentileRankBoundedBy(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          TextAnalysis.qualityBps(col("text")).as("quality_bps")),
        col("source"), col("quality_bps"))
      .select("doc_id", "source", "quality_bps", "pct")
      .orderBy("doc_id"),
    Some(s"WITH q AS (SELECT doc_id, source, $duckQbps AS qb " +
      "FROM documents), " +
      "h AS (SELECT source, qb AS v, count(*) AS c FROM q " +
      "WHERE qb IS NOT NULL GROUP BY 1, 2), " +
      "cdf AS (SELECT source, v, round(CAST(sum(c) OVER " +
      "(PARTITION BY source ORDER BY v) AS DOUBLE) / " +
      "sum(c) OVER (PARTITION BY source), 4) AS pct FROM h) " +
      // IS NOT DISTINCT FROM mirrors the null-safe group join: a NULL
      // source is a real partition, ranked within itself
      "SELECT doc_id, q.source, q.qb AS quality_bps, pct FROM q " +
      "JOIN cdf ON q.source IS NOT DISTINCT FROM cdf.source AND q.qb = cdf.v " +
      "ORDER BY doc_id"))

  /** [EXT] L38 per-source top terms: each source's 3 most frequent
    * tokens (rank ties kept) — the domain-profiling probe behind
    * source-mix audits. Partial-aggregated (source, term) shuffle into
    * a WindowGroupLimit rank (audited) — per-task state is k rows per
    * source, never a full sort.
    */
  private val qTopTerms = Q("q_top_terms",
    (s, d) => graft.ops.Windows.rankTopK(
        t(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("term"))
          .groupBy("source", "term").agg(count(lit(1)).as("n")),
        keys = Seq(col("source")), order = Seq(col("n").desc, col("term")),
        k = 3, rankName = "rnk")
      .withColumn("rnk", col("rnk").cast("long"))
      .orderBy("source", "rnk", "term"),
    Some("WITH tc AS (SELECT source, unnest(string_split(text, ' ')) AS term " +
      "FROM documents), " +
      "g AS (SELECT source, term, count(*) AS n FROM tc GROUP BY source, term), " +
      "r AS (SELECT source, term, n, rank() OVER (PARTITION BY source " +
      "ORDER BY n DESC, term) AS rnk FROM g) " +
      "SELECT source, term, n, rnk FROM r WHERE rnk <= 3 " +
      "ORDER BY source NULLS FIRST, rnk, term"))

  /** [EXT] L39 per-group exact-k priority sample
    * ([[Sampling.prioritySampleByGroup]]): exactly 5 docs per source,
    * bottom-k of hash÷n_chars within each stratum — the per-source
    * calibration-set contract. WindowGroupLimit keeps k rows per group
    * per task (audited), no global or per-group full sort.
    */
  private val qSamplePriorityGrouped = Q("q_sample_priority_grouped",
    (s, d) => Sampling.prioritySampleByGroup(t(s, d, "documents"),
        key = col("doc_id"), weight = col("n_chars"),
        group = col("source"), k = 5)
      .select(col("grp"), col("key"), col("weight"), col("priority"))
      .orderBy("grp", "key"),
    // priority is emitted RAW: both engines compute the same IEEE-754
    // division (bit-identical), whereas round(x, 4) on a ~1e12 value
    // needs 16+ significant digits and flips the last digit per-engine
    Some("WITH p AS (SELECT source, doc_id, n_chars, CAST(" +
      TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") +
      " AS DOUBLE) / n_chars AS pri FROM documents WHERE n_chars > 0), " +
      "r AS (SELECT source, doc_id, n_chars, pri, row_number() OVER " +
      "(PARTITION BY source ORDER BY pri, doc_id) AS rn FROM p) " +
      "SELECT source AS grp, doc_id AS key, n_chars AS weight, " +
      "pri AS priority FROM r WHERE rn <= 5 ORDER BY grp NULLS FIRST, key"))

  /** [EXT] L40 robust length cut ([[Aggregates.medianAbsDeviationBounded]]):
    * keep documents within 3 MADs of the median length — the outlier
    * rule a few megabyte rows cannot drag, unlike mean ± k·stddev.
    * Two bounded-histogram passes + one broadcast 1-row filter; no
    * corpus-sized sort or window anywhere.
    */
  private val qRobustCut = Q("q_robust_cut",
    (s, d) => {
      val docs = t(s, d, "documents")
      val stats = Aggregates.medianAbsDeviationBounded(docs, col("n_chars"))
      docs.crossJoin(broadcast(stats))
        .filter(abs(col("n_chars") - col("med")) <= lit(3L) * col("mad"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
    Some("WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents " +
      "GROUP BY n_chars), " +
      "cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cf, " +
      "(SELECT count(*) FROM documents) AS n FROM h), " +
      "med AS (SELECT min(v) AS med FROM cum WHERE cf >= ceil(n * 0.5)), " +
      "d AS (SELECT abs(n_chars - med) AS dv FROM documents, med), " +
      "h2 AS (SELECT dv, count(*) AS c FROM d GROUP BY dv), " +
      "cum2 AS (SELECT dv, sum(c) OVER (ORDER BY dv) AS cf, " +
      "(SELECT count(*) FROM d) AS n FROM h2), " +
      "mad AS (SELECT min(dv) AS mad FROM cum2 WHERE cf >= ceil(n * 0.5)) " +
      "SELECT doc_id, n_chars FROM documents, med, mad " +
      "WHERE abs(n_chars - med) <= 3 * mad ORDER BY doc_id"))

  /** [EXT] L41 per-label embedding centroids: the class-mean vectors
    * behind nearest-centroid classification, per-domain embedding
    * profiles, and drift monitoring. Components are scaled to exact
    * BIGINTs (floor(x·10⁴ + ½) — both engines evaluate the identical
    * IEEE multiply on the same float32 bits) so the per-dimension sums
    * are associative and bit-stable at any parallelism — a raw float
    * mean would sum in shuffle order.
    *
    * Scale posture: posexplode → ONE (label, dim) hash aggregate with
    * map-side partial combine — shuffle volume is labels × dims, not
    * corpus-sized; output is the centroid table itself (tiny, the
    * natural broadcast side of any downstream assignment join).
    */
  private val qLabelCentroids = Q("q_label_centroids",
    (s, d) => t(s, d, "embeddings")
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"),
        col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * 10000 + 0.5).cast("long").as("q"))
      .groupBy("label", "dim")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      // mean is emitted RAW (exact-int sum / exact-int denominator, one
      // IEEE division — bit-identical cross-engine; round() at a .5
      // boundary is not)
      .withColumn("mean", col("s").cast("double") / (col("n") * 10000))
      .orderBy("label", "dim"),
    Some("WITH e AS (SELECT label, unnest(list_transform(" +
      "generate_series(1, len(embedding)), " +
      "i -> {'dim': i - 1, 'q': CAST(floor(CAST(embedding[i] AS DOUBLE) " +
      "* 10000 + 0.5) AS BIGINT)})) AS u FROM embeddings) " +
      "SELECT label, CAST(u.dim AS BIGINT) AS dim, " +
      "CAST(sum(u.q) AS BIGINT) AS s, count(*) AS n, " +
      "CAST(sum(u.q) AS DOUBLE) / (count(*) * 10000) AS mean " +
      // NULLS FIRST: Spark ASC default; null labels are a real group
      "FROM e GROUP BY label, u.dim ORDER BY label NULLS FIRST, dim"))

  /** [EXT] L42 token-mass median length
    * ([[Aggregates.boundedWeightedQuantileThreshold]]): the document
    * length below which HALF OF ALL TRAINING TOKENS live — the quantity
    * a context-length / packing decision actually needs (the doc-count
    * median answers a different question when long docs carry most of
    * the token mass). One weighted histogram aggregate; the cumulative
    * window sees only domain-many rows at any corpus size.
    */
  private val qWeightedMedian = Q("q_weighted_median",
    (s, d) => {
      val (ws, _) = TextAnalysis.tokenCounts(col("text"))
      Aggregates.boundedWeightedQuantileThreshold(
        t(s, d, "documents").select(col("n_chars"), ws.as("n_tok")),
        col("n_chars"), col("n_tok"), 0.5)
        .select(col("thr").as("wmed_len"))
    },
    Some(s"WITH tc AS (SELECT n_chars AS v, CAST($duckNTok AS BIGINT) AS w " +
      "FROM documents), " +
      "h AS (SELECT v, sum(w) AS c FROM tc GROUP BY v), " +
      "cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cf, " +
      "(SELECT sum(w) FROM tc) AS n FROM h) " +
      "SELECT min(v) AS wmed_len FROM cum WHERE cf >= ceil(n * 0.5)"))

  /** [EXT] L43 temperature-scaled source mixing
    * ([[Sampling.temperatureMix]], α = ½): allocate a global token
    * budget ∝ √share — the standard smoothing between proportional
    * (α=1) and the uniform per-source cap of `q_corpus_mix` (α=0).
    * α is fixed at ½ because sqrt is the one fractional power IEEE
    * defines correctly-rounded (pow ulps could flip a basis point
    * cross-engine). All rate arithmetic is exact-BIGINT-then-one-IEEE-
    * division, reproduced basis-point-exact by the oracle.
    */
  private val qTemperatureMix = Q("q_temperature_mix",
    (s, d) => Sampling.temperatureMix(t(s, d, "documents"),
        id = col("doc_id"), text = col("text"), source = col("source"),
        budgetTokens = 60000L)
      .orderBy("doc_id"),
    Some(s"WITH tc AS (SELECT doc_id, source, CAST($duckNTok AS BIGINT) " +
      "AS n_tok FROM documents), " +
      "st AS (SELECT source, sum(n_tok) AS src_tok FROM tc GROUP BY source), " +
      "q AS (SELECT source, src_tok, " +
      "CAST(floor(sqrt(CAST(src_tok AS DOUBLE))) AS BIGINT) AS qs FROM st), " +
      "tot AS (SELECT sum(qs) AS qtot FROM q), " +
      "r AS (SELECT source, least(10000, CAST(floor(" +
      "CAST(floor(60000 * qs / qtot) AS BIGINT) * 10000 / src_tok) " +
      "AS BIGINT)) AS rate_bps FROM q, tot) " +
      "SELECT t.doc_id, t.source, t.n_tok FROM tc t JOIN r USING (source) " +
      "WHERE " + TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") +
      " % 10000 < r.rate_bps ORDER BY doc_id"))

  /** [EXT] L44 shard assignment + balance audit: deterministic
    * content-hash sharding (shard = hash(id) mod N — the writer-side
    * partitioner of a training-shard export) with the per-shard
    * doc/token balance report that validates it ("is any shard hot").
    * One map-side-combined hash aggregate over a pure projection;
    * output is N rows regardless of corpus size.
    */
  private val qShardAssign = Q("q_shard_assign",
    (s, d) => {
      val (ws, _) = TextAnalysis.tokenCounts(col("text"))
      t(s, d, "documents")
        .select((TextHash.baseHash(col("doc_id").cast("string")) % 32)
          .as("shard"), ws.as("n_tok"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_sum"))
        .orderBy("shard")
    },
    Some("SELECT " + TextHash.duckBaseHash("CAST(doc_id AS VARCHAR)") +
      s" % 32 AS shard, count(*) AS n_docs, " +
      s"CAST(sum(CAST($duckNTok AS BIGINT)) AS BIGINT) AS tok_sum " +
      "FROM documents GROUP BY 1 ORDER BY shard"))

  /** [EXT] L46b LM-free perplexity proxy
    * ([[graft.ext.TextAnalysis.meanDocFreq]]): per-document mean corpus
    * document-frequency of its token occurrences — boilerplate scores
    * high, rare-vocabulary documents low; the model-free stand-in for
    * the reference-LM-perplexity quality cut of published pipelines.
    * Integer sums + one final division keep scores bit-identical
    * across engines (no ln(), no float accumulation).
    */
  private val qDocRarity = Q("q_doc_rarity",
    (s, d) => TextAnalysis.meanDocFreq(
      t(s, d, "documents"), col("text"), col("doc_id"))
      .orderBy("doc_id"),
    Some("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) " +
      "AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
      "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1) " +
      "SELECT doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tok, " +
      "CAST(sum(tf.tf * df.df) AS DOUBLE) / sum(tf.tf) AS mean_df " +
      "FROM tf JOIN df USING (term) GROUP BY doc_id ORDER BY doc_id"))

  /** [EXT] L44c length-bucketed batch planning
    * ([[graft.ext.Sampling.lengthBucket]]): round every document's
    * token count up to a power-of-two bucket and report docs, tokens,
    * and total padding waste per bucket — the capacity-planning report
    * behind bucketed batching (batches draw from one bucket; the
    * pad_waste column IS the compute you burn on padding at each
    * capacity). Projection + one audit agg, zero extra scans.
    */
  private val qLengthBuckets = Q("q_length_buckets",
    (s, d) => {
      val (nTok, _) = TextAnalysis.tokenCounts(col("text"))
      t(s, d, "documents")
        .select(nTok.as("n_tok"))
        .select(col("n_tok"), Sampling.lengthBucket(col("n_tok")).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"),
          sum(col("bucket") - col("n_tok")).as("pad_waste"))
        .orderBy("bucket")
    },
    Some("WITH tk AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)" +
      " AS n_tok FROM documents), " +
      "b AS (SELECT n_tok, CAST(power(2, ceil(log2(greatest(" +
      "CAST(n_tok AS DOUBLE), 1.0)))) AS BIGINT) AS bucket FROM tk) " +
      "SELECT bucket, count(*) AS n_docs, " +
      "CAST(sum(n_tok) AS BIGINT) AS sum_tok, " +
      "CAST(sum(bucket - n_tok) AS BIGINT) AS pad_waste " +
      "FROM b GROUP BY 1 ORDER BY bucket"))

  /** [EXT] L45 composite quality-rule filter
    * ([[TextAnalysis.qualityRules]]): the published Gopher/C4 rule-set
    * shape — five per-doc cuts reported as a failed-rule bitmask, so
    * one pass yields both the keep decision (mask = 0) and the
    * which-rule-rejects-what audit. All rules are cross-multiplied
    * exact integers: a borderline doc cannot flip between engines.
    * Pure projection — zero shuffle at any corpus size.
    */
  private val qQualityRules = Q("q_quality_rules",
    (s, d) => {
      val (mask, keep) = TextAnalysis.qualityRules(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), mask.as("fail_mask"), keep.as("keep"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, CAST(" +
      "(CASE WHEN nt BETWEEN 5 AND 50000 THEN 0 ELSE 1 END) + " +
      "(CASE WHEN cns >= nt * 3 AND cns <= nt * 10 THEN 0 ELSE 2 END) + " +
      "(CASE WHEN aw * 5 >= nt * 4 THEN 0 ELSE 4 END) + " +
      "(CASE WHEN st >= 2 THEN 0 ELSE 8 END) + " +
      "(CASE WHEN sy * 10 < nt THEN 0 ELSE 16 END) AS BIGINT) AS fail_mask, " +
      // coalesce: NULL text must DECIDE keep=false, not stay three-valued
      "coalesce((nt BETWEEN 5 AND 50000) AND (cns >= nt * 3 AND cns <= nt * 10) " +
      "AND (aw * 5 >= nt * 4) AND (st >= 2) AND (sy * 10 < nt), FALSE) AS keep " +
      "FROM (SELECT doc_id, " +
      s"CAST($duckNTok AS BIGINT) AS nt, " +
      s"CAST(length(text) - $duckNTok + 1 AS BIGINT) AS cns, " +
      "CAST(len(list_filter(string_split(text, ' '), " +
      "t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS aw, " +
      "CAST(len(list_filter(string_split(text, ' '), " +
      "t -> t = 'the' OR t = 'a')) AS BIGINT) AS st, " +
      "CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS sy " +
      "FROM documents) ORDER BY doc_id"))

  /** [EXT] L46 snapshot drift monitor ([[Drift.totalVariation]]):
    * per-source total-variation distance between two corpus snapshots'
    * length distributions (here: even vs odd doc_id halves standing in
    * for yesterday/today) — the "did the crawl shift under me" gate a
    * pipeline runs between ingests. TV over KL/JS: the numerator is
    * exact BIGINT (no logs, no float accumulation order) and survives
    * values seen in only one snapshot, where KL is infinite.
    */
  private val qSourceDrift = Q("q_source_drift",
    (s, d) => {
      val docs = t(s, d, "documents")
      Drift.totalVariation(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          col("source"), col("n_chars"))
        .select(col("g").as("source"), col("na"), col("nb"), col("tv"))
        .orderBy("source")
    },
    Some("WITH t AS (SELECT source, n_chars AS v, " +
      "CAST(doc_id % 2 = 0 AS BIGINT) AS ca, " +
      "CAST(doc_id % 2 = 1 AS BIGINT) AS cb FROM documents), " +
      "h AS (SELECT source, v, sum(ca) AS ca, sum(cb) AS cb " +
      "FROM t GROUP BY source, v), " +
      "tot AS (SELECT source, sum(ca) AS na, sum(cb) AS nb " +
      "FROM h GROUP BY source), " +
      "f AS (SELECT h.source, max(tot.na) AS na, max(tot.nb) AS nb, " +
      "sum(abs(h.ca * tot.nb - h.cb * tot.na)) AS num " +
      "FROM h JOIN tot USING (source) GROUP BY h.source) " +
      "SELECT source, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb, " +
      "CASE WHEN na > 0 AND nb > 0 THEN " +
      // double denominator mirrors totalVariation (BIGINT 2*na*nb
      // overflows at ~2.1e9 rows/side; doubles are exact below 2^52)
      "CAST(num AS DOUBLE) / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) ELSE 1.0 END AS tv " +
      "FROM f ORDER BY source NULLS FIRST"))

  /** [EXT] L47 k-means centroid training ([[Similarity.kmeansRefine]],
    * 2 Lloyd passes from the same sampled seeds `q_ann_ivf` probes):
    * max-cosine assignment (broadcast centroids + WindowGroupLimit
    * argmax) alternating with fixed-point per-dimension means (exact
    * BIGINT sums of 1e-4-quantized components — bit-stable at any
    * parallelism, which is what lets DuckDB replay the full two-pass
    * trajectory to the last ulp). Per pass, only k·dim aggregate cells
    * shuffle after map-side combine; the corpus is scanned once.
    */
  /** DuckDB fragments replaying [[Similarity.kmeansRefine]]'s Lloyd
    * trajectory CTE by CTE (assignment / fixed-point update / centroid
    * rebuild) — shared by `q_kmeans` and `q_kmeans_inertia`.
    */
  private def duckKmAssign(name: String, cent: String,
                           keepCos: Boolean,
                           corpus: String = "n"): String = {
    val cos = s"list_dot_product($corpus.v, c.cv) / ($corpus.nm * c.cn)"
    s"$name AS (SELECT vec_id, v, cid" + (if (keepCos) ", ccos" else "") +
      s" FROM (SELECT $corpus.vec_id, $corpus.v, c.cid, $cos AS ccos, " +
      s"row_number() OVER (PARTITION BY $corpus.vec_id ORDER BY $cos DESC, " +
      s"c.cid) AS rn FROM $corpus CROSS JOIN $cent c) WHERE rn = 1)"
  }
  private def duckKmUpdate(name: String, asg: String): String =
    s"$name AS (SELECT cid, u.dim AS dim, sum(u.q) AS s, count(*) AS n " +
      "FROM (SELECT cid, unnest(list_transform(" +
      "generate_series(1, len(v)), i -> {'dim': i - 1, " +
      "'q': CAST(floor(CAST(v[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT)})) " +
      s"AS u FROM $asg) GROUP BY cid, u.dim)"
  private def duckKmCent(name: String, upd: String): String =
    s"$name AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn " +
      "FROM (SELECT cid, list(CAST(s AS DOUBLE) / (n * 10000) " +
      s"ORDER BY dim) AS cv FROM $upd GROUP BY cid))"
  private val duckKmTwoIters = duckNormCte + ", " +
    "c0 AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM n " +
    "WHERE vec_id % 100 = 0), " +
    duckKmAssign("a1", "c0", keepCos = false) + ", " +
    duckKmUpdate("u1", "a1") + ", " +
    duckKmCent("c1n", "u1") + ", " +
    duckKmAssign("a2", "c1n", keepCos = false) + ", " +
    duckKmUpdate("u2", "a2")

  private val qKmeans = Q("q_kmeans",
    (s, d) => {
      val n = embNorm(s, d)
      Similarity.kmeansRefine(n, n.filter(col("vec_id") % 100 === 0),
          iters = 2)
        .orderBy("cid", "dim")
    },
    Some(duckKmTwoIters +
      " SELECT cid, CAST(dim AS BIGINT) AS dim, n, " +
      "CAST(s AS DOUBLE) / (n * 10000) AS mean FROM u2 ORDER BY cid, dim"))

  /** [EXT] L48 clustering quality report
    * ([[Similarity.kmeansInertia]]): per-cluster size + mean
    * member-to-centroid cosine for the 2-pass-trained centroids of
    * `q_kmeans` — the inertia readout that tells an IVF operator
    * whether its index is tight enough (and when to retrain). Cosines
    * quantize to 1e-6 before an exact-BIGINT sum, so the mean is
    * bit-stable at any parallelism; DuckDB replays the full trained
    * trajectory plus the report pass to the last ulp.
    */
  private val qKmeansInertia = Q("q_kmeans_inertia",
    (s, d) => {
      val n = embNorm(s, d)
      val trained = Similarity.centroidFrame(
        Similarity.kmeansRefine(n, n.filter(col("vec_id") % 100 === 0),
          iters = 2))
      Similarity.kmeansInertia(n, trained).orderBy("cid")
    },
    Some(duckKmTwoIters + ", " +
      duckKmCent("c2n", "u2") + ", " +
      duckKmAssign("a3", "c2n", keepCos = true) +
      " SELECT cid, n, s, CAST(s AS DOUBLE) / (n * 1000000) AS mean_cos " +
      "FROM (SELECT cid, count(*) AS n, " +
      "CAST(sum(CAST(floor(ccos * 1000000 + 0.5) AS BIGINT)) AS BIGINT) " +
      "AS s FROM a3 GROUP BY cid) ORDER BY cid"))

  /** [EXT] L94 simplified silhouette ([[Similarity.silhouette]]) for
    * the q_kmeans-trained centroids: per cluster, mean of
    * (b−a)/max(a,b) with a = cosine distance to the own centroid and
    * b = to the nearest other — the SEPARATION readout that
    * complements q_kmeans_inertia's tightness (near-zero = boundary
    * members, merge-candidate clusters). Centroid-based, so one
    * broadcast scoring pass instead of the classic corpus² pairwise
    * form; per-vector sil quantizes to 1e-6 before an exact-BIGINT
    * sum. DuckDB replays the trained trajectory, the top-2 election
    * (ties on cid), and the identical IEEE ratio.
    */
  private val qSilhouette = Q("q_silhouette",
    (s, d) => {
      val n = embNorm(s, d)
      val trained = Similarity.centroidFrame(
        Similarity.kmeansRefine(n, n.filter(col("vec_id") % 100 === 0),
          iters = 2))
      Similarity.silhouette(n, trained).orderBy("cid")
    },
    Some(duckKmTwoIters + ", " +
      duckKmCent("c2n", "u2") + ", " +
      "sc AS (SELECT vec_id, cid, ccos, rn FROM " +
      "(SELECT n.vec_id, c.cid, " +
      "list_dot_product(n.v, c.cv) / (n.nm * c.cn) AS ccos, " +
      "row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
      "list_dot_product(n.v, c.cv) / (n.nm * c.cn) DESC, c.cid) AS rn " +
      "FROM n CROSS JOIN c2n c) WHERE rn <= 2), " +
      "p AS (SELECT vec_id, " +
      "max(CASE WHEN rn = 1 THEN ccos END) AS c1, " +
      "max(CASE WHEN rn = 1 THEN cid END) AS cid, " +
      "max(CASE WHEN rn = 2 THEN ccos END) AS c2 FROM sc " +
      "GROUP BY vec_id), " +
      "q AS (SELECT cid, CAST(floor((CASE WHEN c2 IS NULL OR " +
      "1.0 - c2 = 0.0 THEN 0.0 ELSE (c1 - c2) / (1.0 - c2) END) " +
      "* 1000000 + 0.5) AS BIGINT) AS q FROM p) " +
      "SELECT cid, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(q) AS BIGINT) AS s, " +
      "CAST(sum(q) AS DOUBLE) / (count(*) * 1000000) AS mean_sil " +
      "FROM q GROUP BY cid ORDER BY cid"))

  /** [EXT] L49 quality-weighted canonical selection
    * ([[Dedup.canonicalSurvivors]]): the dedup decision with the policy
    * production pipelines actually want — each near-dup cluster keeps
    * its HIGHEST-QUALITY member (integer quality score, ties → min id)
    * instead of `q_dedup_corpus`'s first-by-id. Election is a
    * WindowGroupLimit over only the clustered rows (bounded by the dup
    * graph, not the corpus); the score is exact BIGINT so the winner
    * cannot flip between engines.
    */
  private val qClusterCanonical = Q("q_cluster_canonical",
    (s, d) => {
      val docs = t(s, d, "documents")
      val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
          n = 3, threshold = 0.5))
      Dedup.canonicalSurvivors(docs, col("doc_id"), clusters,
          TextAnalysis.qualityBps(col("text")))
        .orderBy("doc_id")
    },
    Some("WITH RECURSIVE " + duckJaccardCtes + ", " +
      "edges AS (SELECT da AS src, db AS dst FROM jpairs " +
      "UNION ALL SELECT db, da FROM jpairs), " +
      "reach(node, lab) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node), " +
      "clusters AS (SELECT node, min(lab) AS cluster_id FROM reach " +
      "GROUP BY node), " +
      "scored AS (SELECT d.doc_id, c.cluster_id, " +
      "CAST(" + duckQbps + " AS BIGINT) AS score " +
      "FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node), " +
      "elected AS (SELECT doc_id, cluster_id, score FROM (" +
      "SELECT doc_id, cluster_id, score, row_number() OVER (" +
      "PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rn " +
      "FROM scored WHERE cluster_id IS NOT NULL) WHERE rn = 1) " +
      "SELECT doc_id, cluster_id, score FROM scored " +
      "WHERE cluster_id IS NULL " +
      "UNION ALL SELECT doc_id, cluster_id, score FROM elected " +
      "ORDER BY doc_id"))


  /** [EXT] L50 hard-negative mining ([[Similarity.hardNegativeTopK]]):
    * per-query top-k most-similar vectors with a DIFFERENT label — the
    * near-miss negatives contrastive/reranker training actually learns
    * from. Queries broadcast, corpus scanned once, label-mismatch
    * predicate on the broadcast join, WindowGroupLimit top-k; at IVF
    * scale the same predicate rides the probed cells.
    */
  private val qHardNegatives = Q("q_hard_negatives",
    (s, d) => {
      val e = t(s, d, "embeddings")
      // withNorm's full row-drop rule (null/empty/ragged/zero-norm),
      // kept inline because label rides along
      val n = e.filter(col("embedding").isNotNull &&
          size(col("embedding")) === EmbDim)
        .select(col("vec_id"), col("embedding").as("v"),
          Similarity.norm(col("embedding")).as("nm"), col("label"))
        .filter(col("nm") > 0)
      Similarity.hardNegativeTopK(
          n.filter(col("vec_id").isin(1, 2, 3, 4)), n, k = 5)
        .select(col("qid"), col("vec_id"),
          col("label").cast("long").as("label"),
          col("rnk").cast("long").as("rnk"), round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rnk")
    },
    Some("WITH n AS (SELECT vec_id, label, " +
      "CAST(embedding AS DOUBLE[]) AS v, " +
      "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
      s"CAST(embedding AS DOUBLE[]))) AS nm FROM embeddings WHERE $duckEmbUnit), " +
      "q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nm AS qn " +
      "FROM n WHERE vec_id IN (1, 2, 3, 4)), " +
      "s AS (SELECT q.qid, n.vec_id, n.label, " +
      "list_dot_product(q.qv, n.v) / (q.qn * n.nm) AS cos, " +
      "row_number() OVER (PARTITION BY q.qid ORDER BY " +
      "list_dot_product(q.qv, n.v) / (q.qn * n.nm) DESC, n.vec_id) AS rnk " +
      "FROM q JOIN n ON n.vec_id <> q.qid AND n.label <> q.qlabel) " +
      "SELECT qid, vec_id, CAST(label AS BIGINT) AS label, " +
      "CAST(rnk AS BIGINT) AS rnk, round(cos, 4) AS cos " +
      "FROM s WHERE rnk <= 5 ORDER BY qid, rnk"))

  /** [EXT] L54 passage-granularity dedup removal
    * ([[Dedup.dedupPassagesCorpus]]): every duplicated 8-token passage
    * keeps only its first corpus-wide occurrence and documents are
    * reassembled from their surviving passages — the CCNet/Dolma
    * paragraph scrubber at passage granularity, the REMOVAL twin of
    * `q_dup_passages`'s profile. Election is a digest-keyed
    * WindowGroupLimit; reassembly is one doc-keyed aggregate.
    */
  private val qPassageDedup = Q("q_passage_dedup",
    (s, d) => Dedup.dedupPassagesCorpus(t(s, d, "documents"),
        col("doc_id"), col("text"), win = 8)
      .orderBy("doc_id"),
    Some("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tok " +
      "FROM documents WHERE text IS NOT NULL AND text <> ''), " + // no passages in an empty doc
      "st AS (SELECT doc_id, tok, " +
      "unnest(generate_series(0, len(tok) - 1, 8)) AS start FROM tk), " +
      "ch AS (SELECT doc_id, CAST(start // 8 AS BIGINT) AS chunk_id, " +
      "array_to_string(tok[start + 1 : start + 8], ' ') AS ptxt FROM st), " +
      "kept AS (SELECT doc_id, chunk_id, ptxt FROM (" +
      "SELECT doc_id, chunk_id, ptxt, row_number() OVER (" +
      "PARTITION BY md5(ptxt) ORDER BY doc_id, chunk_id) AS rn FROM ch) " +
      "WHERE rn = 1), " +
      "agg AS (SELECT doc_id, count(*) AS n_kept, " +
      "string_agg(ptxt, ' ' ORDER BY chunk_id) AS clean_text FROM kept " +
      "GROUP BY doc_id) " +
      "SELECT d.doc_id, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept, " +
      "coalesce(a.clean_text, '') AS clean_text " +
      "FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id " +
      "ORDER BY d.doc_id"))

  /** [EXT] L61 overlapping-span exact-substring dedup
    * ([[Dedup.dedupSpansCorpus]]): the Lee-et-al exact-substring
    * decision at ARBITRARY offsets — any duplicated 8-token window
    * marks its tokens for removal, the corpus-wide first occurrence is
    * elected and protected, and documents are reassembled from the
    * surviving tokens. The refinement of `q_passage_dedup`'s fixed
    * non-overlapping grid: boilerplate that straddles the grid is now
    * caught. Digest election is a skew-safe hash aggregate (never a
    * hot-digest window); coverage is two sliding maxima in one
    * doc-keyed Window exec.
    */
  private val qSpanDedup = Q("q_span_dedup",
    (s, d) => Dedup.dedupSpansCorpus(t(s, d, "documents"),
        col("doc_id"), col("text"), spanLen = 8)
      .orderBy("doc_id"),
    Some("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tok " +
      "FROM documents), " +
      "st AS (SELECT doc_id, tok, " +
      "unnest(generate_series(1, len(tok) - 7)) AS i FROM tk), " +
      "w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS off, " +
      "CAST(concat('0x', substr(md5(array_to_string(tok[i:i+7], ' ')), " +
      "1, 12)) AS BIGINT) AS dg FROM st), " +
      "f AS (SELECT doc_id, off, " +
      "CASE WHEN cnt > 1 AND rn > 1 THEN 1 ELSE 0 END AS lose, " +
      "CASE WHEN cnt > 1 AND rn = 1 THEN 1 ELSE 0 END AS prot " +
      "FROM (SELECT doc_id, off, count(*) OVER (PARTITION BY dg) AS cnt, " +
      "row_number() OVER (PARTITION BY dg ORDER BY doc_id, off) AS rn " +
      "FROM w)), " +
      "tp AS (SELECT doc_id, " +
      "unnest(generate_series(0, len(tok) - 1)) AS pos, " +
      "unnest(tok) AS tk FROM tk), " +
      "c AS (SELECT t.doc_id, t.pos, t.tk, " +
      "max(coalesce(f.lose, 0)) OVER (PARTITION BY t.doc_id ORDER BY t.pos " +
      "ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS lc, " +
      "max(coalesce(f.prot, 0)) OVER (PARTITION BY t.doc_id ORDER BY t.pos " +
      "ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS pc " +
      "FROM tp t LEFT JOIN f ON t.doc_id = f.doc_id AND t.pos = f.off), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "CAST(sum(CASE WHEN lc = 1 AND pc = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_cut, " +
      "coalesce(string_agg(tk, ' ' ORDER BY pos) " +
      "FILTER (WHERE NOT (lc = 1 AND pc = 0)), '') AS clean_text " +
      "FROM c GROUP BY doc_id) " +
      "SELECT d.doc_id, " +
      "CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens, " +
      "CAST(coalesce(a.n_cut, 0) AS BIGINT) AS n_cut, " +
      "coalesce(a.clean_text, '') AS clean_text " +
      "FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id " +
      "ORDER BY d.doc_id"))

  /** [EXT] L55 Bloom-prefiltered decontamination
    * ([[TextAnalysis.contaminatedBloom]]): the same 13-gram exact
    * decontamination decision as `q_decontaminate13`, computed through
    * a fixed-size Bloom screen of the eval set's shingle hashes (one
    * mergeable bit_or aggregate, broadcast at bloomBits/64 rows
    * regardless of eval-set size) so only bloom-positive corpus
    * shingles reach the exact membership join. The oracle is the EXACT
    * computation — the sketch must be invisible in the result.
    */
  private val qBloomDecontaminate = Q("q_bloom_decontaminate",
    (s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.contaminatedBloom(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        col("text"), col("doc_id"), n = 13, minShared = 1,
        bloomBits = 1 << 16)
        .orderBy("doc_id")
    },
    Some("WITH ev AS (SELECT DISTINCT " + TextHash.duckBaseHash("s0") +
      " AS s FROM (SELECT unnest(list_distinct(" +
      TextHash.duckShingles("text", 13) +
      ")) AS s0 FROM documents WHERE doc_id < 25)), " +
      "co AS (SELECT doc_id, " + TextHash.duckBaseHash("s0") +
      " AS s FROM (SELECT doc_id, unnest(list_distinct(" +
      TextHash.duckShingles("text", 13) +
      ")) AS s0 FROM documents WHERE doc_id >= 25)) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams " +
      "FROM co JOIN ev USING (s) GROUP BY doc_id " +
      "HAVING count(*) >= 1 ORDER BY doc_id"))

  /** [EXT] L56 reciprocal-rank fusion ([[Similarity.rrfFuse]]): hybrid
    * retrieval's standard combiner — fuse the exact float ranking with
    * the int8-quantized ranking (top-20 each) into a final top-10 by
    * `Σ 1/(60 + rank)`. No score calibration needed, bit-stable
    * arithmetic, and both input rankings plus the fusion replay
    * exactly in the oracle.
    */
  private val qRrfFusion = Q("q_rrf_fusion",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val fn = Similarity.withNorm(emb, col("vec_id"),
        col("embedding"), dim = EmbDim)
      val qn = Similarity.withQuantNorm(emb, col("vec_id"),
        col("embedding"), dim = EmbDim)
      val exact = Similarity.bruteForceTopK(
        fn.filter(col("vec_id") < 5), fn, k = 20)
      val quant = Similarity.quantizedTopK(
        qn.filter(col("vec_id") < 5), qn, k = 20)
      Similarity.rrfFuse(exact, quant, kConst = 60, k = 10)
        .select(col("qid"), col("vec_id"),
          col("frnk").cast("long").as("frnk"),
          round(col("rrf"), 6).as("rrf"))
        .orderBy("qid", "frnk")
    },
    Some(duckNormCte + ", " +
      "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM n), " +
      "sc AS (SELECT vec_id, v, CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale FROM m), " +
      "qz AS (SELECT vec_id, list_transform(v, x -> floor(x * scale + 0.5)) AS q FROM sc), " +
      "nn AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS qnm FROM qz), " +
      "ea AS (SELECT qid, vec_id, rnk FROM (SELECT a.vec_id AS qid, b.vec_id, " +
      "row_number() OVER (PARTITION BY a.vec_id ORDER BY " +
      "list_dot_product(a.v, b.v) / (a.nm * b.nm) DESC, b.vec_id) AS rnk " +
      "FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) " +
      "WHERE rnk <= 20), " +
      "eb AS (SELECT qid, vec_id, rnk FROM (SELECT a.vec_id AS qid, b.vec_id, " +
      "row_number() OVER (PARTITION BY a.vec_id ORDER BY " +
      "list_dot_product(a.q, b.q) / (a.qnm * b.qnm) DESC, b.vec_id) AS rnk " +
      "FROM nn a JOIN nn b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) " +
      "WHERE rnk <= 20), " +
      "fu AS (SELECT qid, vec_id, " +
      "coalesce(1.0 / (60 + ea.rnk), 0.0) + coalesce(1.0 / (60 + eb.rnk), 0.0) AS rrf " +
      "FROM ea FULL JOIN eb USING (qid, vec_id)), " +
      "r AS (SELECT qid, vec_id, rrf, row_number() OVER (" +
      "PARTITION BY qid ORDER BY rrf DESC, vec_id) AS frnk FROM fu) " +
      "SELECT qid, vec_id, CAST(frnk AS BIGINT) AS frnk, round(rrf, 6) AS rrf " +
      "FROM r WHERE frnk <= 10 ORDER BY qid, frnk"))

  /** [EXT] L57 BM25 retrieval ranking ([[TextAnalysis.bm25TopK]]):
    * top-20 docs for a 3-term query under linearized-idf BM25
    * (k1 = 1.2, b = 0.75), per-term scores quantized to 1e-6 before
    * the exact-BIGINT per-doc sum. The oracle replays the identical
    * IEEE chain (constants cast to DOUBLE — DuckDB numeric literals
    * are DECIMAL and would silently change the arithmetic).
    */
  private val qBm25 = Q("q_bm25",
    (s, d) => TextAnalysis.bm25TopK(t(s, d, "documents"),
      col("text"), col("doc_id"),
      queryTerms = Seq("spark", "join", "stream"), k = 20),
    Some("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tok " +
      "FROM documents), " +
      "dl AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS dl FROM tk), " +
      "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(len(tok)) AS BIGINT) AS t FROM tk), " +
      "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (" +
      "SELECT doc_id, unnest(tok) AS term FROM tk) " +
      "WHERE term IN ('spark', 'join', 'stream') GROUP BY doc_id, term), " +
      "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf " +
      "GROUP BY term), " +
      "sc AS (SELECT tf.doc_id, CAST(floor(" +
      "(n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) * " +
      "(tf * CAST(2.2 AS DOUBLE)) / " +
      "(tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - " +
      "CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl * n / t)) " +
      "* 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q " +
      "FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, " +
      "CAST(sum(q) AS BIGINT) AS bm25_q FROM sc GROUP BY doc_id " +
      "ORDER BY bm25_q DESC, doc_id LIMIT 20"))

  /** [EXT] L58 semantic dedup ([[Similarity.semanticDedup]]): the
    * SemDeDup shape — k-means-bucketed within-cluster cosine pairs at
    * 0.4, first-wins survivors; the embedding-space near-dup decision
    * that catches paraphrases sharing no n-grams. Oracle replays the
    * trained assignment (the q_kmeans trajectory), the cluster-bounded
    * pair join, and the drop rule exactly.
    */
  private val qSemanticDedup = Q("q_semantic_dedup",
    (s, d) => {
      val n = embNorm(s, d)
      val trained = Similarity.centroidFrame(
        Similarity.kmeansRefine(n, n.filter(col("vec_id") % 100 === 0),
          iters = 2))
      Similarity.semanticDedup(n, trained, threshold = 0.4)
        .orderBy("vec_id")
    },
    Some(duckKmTwoIters + ", " +
      duckKmCent("c2n", "u2") + ", " +
      duckKmAssign("a3", "c2n", keepCos = false) + ", " +
      "nn AS (SELECT vec_id, cid, v, sqrt(list_dot_product(v, v)) AS nm " +
      "FROM a3), " +
      "pr AS (SELECT a.vec_id AS va, b.vec_id AS vb FROM nn a JOIN nn b " +
      "ON a.cid = b.cid AND a.vec_id < b.vec_id " +
      "WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= 0.4) " +
      "SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM nn " +
      "WHERE vec_id NOT IN (SELECT vb FROM pr) ORDER BY vec_id"))

  /** [EXT] L59 triplet mining ([[Similarity.tripletMine]]): per anchor
    * the nearest same-label (positive) + nearest different-label
    * (hardest negative) and the cosine margin — the training rows a
    * triplet/InfoNCE loss consumes. One broadcast of the anchors, one
    * corpus scan feeding both elections; oracle replays both argmaxes
    * and the margin.
    */
  private val qTripletMine = Q("q_triplet_mine",
    (s, d) => {
      val e = t(s, d, "embeddings")
      // withNorm's full row-drop rule (null/empty/ragged/zero-norm),
      // kept inline because label rides along
      val n = e.filter(col("embedding").isNotNull &&
          size(col("embedding")) === EmbDim)
        .select(col("vec_id"), col("embedding").as("v"),
          Similarity.norm(col("embedding")).as("nm"), col("label"))
        .filter(col("nm") > 0)
      Similarity.tripletMine(n.filter(col("vec_id") < 8), n)
        .select(col("qid"), col("pos_id"), col("neg_id"),
          round(col("pos_cos"), 4).as("pos_cos"),
          round(col("neg_cos"), 4).as("neg_cos"),
          round(col("margin"), 4).as("margin"))
        .orderBy("qid")
    },
    Some("WITH n AS (SELECT vec_id, label, " +
      "CAST(embedding AS DOUBLE[]) AS v, " +
      "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
      s"CAST(embedding AS DOUBLE[]))) AS nm FROM embeddings WHERE $duckEmbUnit), " +
      "q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nm AS qn " +
      "FROM n WHERE vec_id < 8), " +
      "s AS (SELECT q.qid, q.qlabel, n.vec_id, n.label, " +
      "list_dot_product(q.qv, n.v) / (q.qn * n.nm) AS cos " +
      "FROM q JOIN n ON n.vec_id <> q.qid), " +
      "p AS (SELECT qid, vec_id AS pos_id, cos AS pos_cos FROM (" +
      "SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, vec_id) AS rn FROM s WHERE label = qlabel) " +
      "WHERE rn = 1), " +
      "g AS (SELECT qid, vec_id AS neg_id, cos AS neg_cos FROM (" +
      "SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, vec_id) AS rn FROM s WHERE label <> qlabel) " +
      "WHERE rn = 1) " +
      "SELECT qid, pos_id, neg_id, round(pos_cos, 4) AS pos_cos, " +
      "round(neg_cos, 4) AS neg_cos, " +
      "round(pos_cos - neg_cos, 4) AS margin " +
      "FROM p JOIN g USING (qid) ORDER BY qid"))

  /** [EXT] L60 column profile ([[Drift.columnProfile]]): one-pass
    * per-column row/non-null/null/exact-distinct counts over orders —
    * the snapshot-health summary diffed between ingests to catch the
    * schema drift a single-column TV monitor misses. Long-form output
    * (one row per column), one scan, map-combined counts.
    */
  private val qProfile = Q("q_profile",
    (s, d) => Drift.columnProfile(t(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate"))
      .orderBy("column_name"),
    Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate")
      .map(c => s"SELECT '$c' AS column_name, " +
        s"CAST(count(*) AS BIGINT) AS n_rows, " +
        s"CAST(count($c) AS BIGINT) AS n_nonnull, " +
        s"CAST(count(*) - count($c) AS BIGINT) AS n_null, " +
        s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders")
      .mkString("", " UNION ALL ", " ORDER BY column_name")))

  /** [EXT] L61 winsorized per-source quality means
    * ([[graft.ops.Aggregates.winsorizedMeans]]): every doc's integer
    * quality score clipped to the corpus-wide exact [p05, p95] band
    * (one bounded-histogram pass yields both thresholds), then exact
    * per-source means — the robust dashboard statistic outlier docs
    * cannot drag. Oracle replays histogram, band, clip, and the single
    * final division.
    */
  private val qWinsorize = Q("q_winsorize",
    (s, d) => graft.ops.Aggregates.winsorizedMeans(
        t(s, d, "documents"), col("source"),
        TextAnalysis.qualityBps(col("text")), pLo = 0.05, pHi = 0.95)
      .withColumnRenamed("g", "source")
      .orderBy("source"),
    Some(s"WITH sc AS (SELECT source, CAST($duckQbps AS BIGINT) AS v " +
      "FROM documents WHERE text IS NOT NULL), " + // observed values only
      "h AS (SELECT v, count(*) AS c FROM sc GROUP BY v), " +
      "cw AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND CURRENT ROW) AS cf, sum(c) OVER () AS n FROM h), " +
      "t AS (SELECT min(CASE WHEN cf >= ceil(n * CAST(0.05 AS DOUBLE)) " +
      "THEN v END) AS lo, " +
      "min(CASE WHEN cf >= ceil(n * CAST(0.95 AS DOUBLE)) THEN v END) " +
      "AS hi FROM cw), " +
      "w AS (SELECT source, greatest(lo, least(hi, v)) AS wv " +
      "FROM sc CROSS JOIN t) " +
      "SELECT source, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(wv) AS BIGINT) AS s, " +
      "CAST(sum(wv) AS DOUBLE) / count(*) AS wmean " +
      "FROM w GROUP BY source ORDER BY source NULLS FIRST"))

  /** [EXT] L62 LSH quality evaluation: recall/precision of the banded
    * MinHash candidate generator against the EXACT Jaccard pairs at
    * the same 0.5 threshold — the tuning readout that says whether
    * (k, bands) is adequate before a production run trusts the sketch.
    * Deterministic end to end (fixed hash family, no RNG); one
    * full-outer join of two pair sets + one aggregate. The oracle
    * replays both generators and the same confusion counts.
    */
  private val qLshRecall = Q("q_lsh_recall",
    (s, d) => {
      val docs = t(s, d, "documents")
      val exact = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
          n = 3, threshold = 0.5)
        .select(col("da"), col("db"), lit(1L).as("tr"))
      val cand = Dedup.minhashLshPairs(
          Dedup.minhashSignature(docs, col("text"), col("doc_id"), k = 8),
          k = 8, bands = 4)
        .select(col("da"), col("db"), lit(1L).as("cd"))
      exact.join(cand, Seq("da", "db"), "full_outer")
        .agg(sum(coalesce(col("tr"), lit(0L))).as("n_true"),
          sum(coalesce(col("cd"), lit(0L))).as("n_cand"),
          sum(coalesce(col("tr"), lit(0L)) * coalesce(col("cd"), lit(0L)))
            .as("n_hit"))
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_true")).as("recall"),
          (col("n_hit").cast("double") / col("n_cand")).as("precision"))
    },
    Some(duckSigCte + ", " + duckBandsCte + ", " +
      "cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bands x " +
      "JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id), " +
      duckJaccardCtes + ", " +
      "f AS (SELECT CASE WHEN j.da IS NOT NULL THEN 1 ELSE 0 END AS t, " +
      "CASE WHEN c.da IS NOT NULL THEN 1 ELSE 0 END AS cd " +
      "FROM jpairs j FULL JOIN cand c ON j.da = c.da AND j.db = c.db) " +
      "SELECT CAST(sum(t) AS BIGINT) AS n_true, " +
      "CAST(sum(cd) AS BIGINT) AS n_cand, " +
      "CAST(sum(t * cd) AS BIGINT) AS n_hit, " +
      "CAST(sum(t * cd) AS DOUBLE) / sum(t) AS recall, " +
      "CAST(sum(t * cd) AS DOUBLE) / sum(cd) AS precision FROM f"))

  /** [EXT] L103 SimHash quality evaluation: recall/precision of the
    * 16-bit banded hamming candidate generator (the q_simhash_pairs
    * config, maxDist 2) against the EXACT Jaccard pairs at 0.5 — the
    * third leg of the sketch-eval harness beside q_lsh_recall
    * (MinHash) and q_ann_recall (IVF): SimHash approximates COSINE of
    * the term vectors, so its recall against a Jaccard truth is
    * exactly the number a pipeline needs before swapping one sketch
    * family for the other. One full-outer join of two pair sets; both
    * generators and the confusion counts replay in the oracle.
    */
  private val qSimhashRecall = Q("q_simhash_recall",
    (s, d) => {
      val docs = t(s, d, "documents")
      val exact = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
          n = 3, threshold = 0.5)
        .select(col("da"), col("db"), lit(1L).as("tr"))
      val cand = Dedup.simhashHammingPairs(
          Dedup.simhash16(docs, col("text"), col("doc_id")), maxDist = 2)
        .select(col("da"), col("db"), lit(1L).as("cd"))
      exact.join(cand, Seq("da", "db"), "full_outer")
        .agg(sum(coalesce(col("tr"), lit(0L))).as("n_true"),
          sum(coalesce(col("cd"), lit(0L))).as("n_cand"),
          sum(coalesce(col("tr"), lit(0L)) * coalesce(col("cd"), lit(0L)))
            .as("n_hit"))
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_true")).as("recall"),
          (col("n_hit").cast("double") / col("n_cand")).as("precision"))
    },
    Some(s"WITH $duckSimhashCtes, " +
      "hbands AS (SELECT doc_id, fp, b, (fp >> (b * 4)) & 15 AS key " +
      "FROM fps CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)), " +
      "hcand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db " +
      "FROM hbands x JOIN hbands y ON x.b = y.b AND x.key = y.key " +
      "AND x.doc_id < y.doc_id " +
      "AND bit_count(xor(x.fp, y.fp)) <= 2), " +
      duckJaccardCtes + ", " +
      "f AS (SELECT CASE WHEN j.da IS NOT NULL THEN 1 ELSE 0 END AS t, " +
      "CASE WHEN c.da IS NOT NULL THEN 1 ELSE 0 END AS cd " +
      "FROM jpairs j FULL JOIN hcand c ON j.da = c.da AND j.db = c.db) " +
      "SELECT CAST(sum(t) AS BIGINT) AS n_true, " +
      "CAST(sum(cd) AS BIGINT) AS n_cand, " +
      "CAST(sum(t * cd) AS BIGINT) AS n_hit, " +
      "CAST(sum(t * cd) AS DOUBLE) / sum(t) AS recall, " +
      "CAST(sum(t * cd) AS DOUBLE) / sum(cd) AS precision FROM f"))

  /** [EXT] L63 ANN recall evaluation: per-query recall@5 of the
    * IVF-pruned search against the brute-force truth — the index
    * quality readout that decides nlist/nprobe before serving trusts
    * the index (the vector-side sibling of `q_lsh_recall`). Both
    * searches and the overlap count replay exactly in the oracle.
    */
  private val qAnnRecall = Q("q_ann_recall",
    (s, d) => {
      val n = embNorm(s, d)
      val queries = n.filter(col("vec_id").isin(1, 2, 3, 4))
      val truth = Similarity.bruteForceTopK(queries, n, k = 5)
        .select(col("qid"), col("vec_id"))
      val approx = Similarity.ivfTopK(corpus = n,
          centroids = n.filter(col("vec_id") % 100 === 0),
          queries = queries, k = 5)
        .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
      truth.join(approx, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("found"))
        .select(col("qid"), col("k"), col("found"),
          (col("found").cast("double") / col("k")).as("recall"))
        .orderBy("qid")
    },
    Some(duckNormCte + ", " +
      "tr AS (SELECT qid, vec_id FROM (SELECT a.vec_id AS qid, b.vec_id, " +
      "row_number() OVER (PARTITION BY a.vec_id ORDER BY " +
      "list_dot_product(a.v, b.v) / (a.nm * b.nm) DESC, b.vec_id) AS rnk " +
      "FROM n a JOIN n b ON a.vec_id IN (1, 2, 3, 4) " +
      "AND b.vec_id <> a.vec_id) WHERE rnk <= 5), " +
      "cent AS (SELECT * FROM n WHERE vec_id % 100 = 0), " +
      "asg AS (SELECT vec_id, v, nm, cid FROM (" +
      "SELECT n.vec_id, n.v, n.nm, c.vec_id AS cid, row_number() OVER (" +
      "PARTITION BY n.vec_id ORDER BY " +
      "list_dot_product(n.v, c.v) / (n.nm * c.nm) DESC, c.vec_id) AS rn " +
      "FROM n CROSS JOIN cent c) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS qid, v AS qv, nm AS qn, cid FROM asg " +
      "WHERE vec_id IN (1, 2, 3, 4)), " +
      "ap AS (SELECT qid, vec_id FROM (SELECT q.qid, a.vec_id, " +
      "row_number() OVER (PARTITION BY q.qid ORDER BY " +
      "list_dot_product(q.qv, a.v) / (q.qn * a.nm) DESC, a.vec_id) AS rnk " +
      "FROM asg a JOIN q ON a.cid = q.cid AND a.vec_id <> q.qid) " +
      "WHERE rnk <= 5) " +
      "SELECT tr.qid, CAST(count(*) AS BIGINT) AS k, " +
      "CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS found, " +
      "CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS DOUBLE) / count(*) AS recall " +
      "FROM tr LEFT JOIN ap ON tr.qid = ap.qid AND tr.vec_id = ap.vec_id " +
      "GROUP BY tr.qid ORDER BY tr.qid"))

  /** [EXT] L64 dedup threshold sweep: the pair-count curve over
    * Jaccard bands (0.3 + 0.05 bins) from ONE pair enumeration — the
    * sensitivity table that picks a dedup threshold ("how many more
    * pairs does lowering to 0.45 admit?") without re-running the
    * expensive candidate join per candidate threshold.
    */
  private val qDedupSweep = Q("q_dedup_sweep",
    (s, d) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"),
        col("text"), col("doc_id"), n = 3, threshold = 0.3)
      val binned = pairs.select(
        (floor(col("jacc") * 20).cast("long") / lit(20.0)).as("band"))
      binned.groupBy("band").agg(count(lit(1)).as("n_pairs"))
        .withColumn("n_at_or_above",
          sum("n_pairs").over(org.apache.spark.sql.expressions.Window
            .orderBy(col("band").desc)
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
        .orderBy("band")
    },
    Some("WITH " + duckJaccardCtesAt("documents", 0.3) + ", " +
      "bn AS (SELECT floor(jacc * 20) / 20.0 AS band FROM jpairs), " +
      "h AS (SELECT band, CAST(count(*) AS BIGINT) AS n_pairs FROM bn " +
      "GROUP BY band) " +
      "SELECT band, n_pairs, CAST(sum(n_pairs) OVER (ORDER BY band DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
      "AS n_at_or_above FROM h ORDER BY band"))

  /** [EXT] L65 per-source length profile
    * ([[graft.ops.Aggregates.boundedGroupQuantiles]]): exact
    * nearest-rank p50/p90/p99 token counts PER SOURCE via the bounded
    * (group, value) histogram — the per-domain dashboard row where
    * `q_quality_cut`/`q_weighted_median` answer corpus-wide questions.
    * The cumulative window partitions by source over the bounded
    * histogram, never the corpus.
    */
  private val qSourceLengths = Q("q_source_lengths",
    (s, d) => graft.ops.Aggregates.boundedGroupQuantiles(
        t(s, d, "documents"), col("source"),
        size(split(col("text"), " ")).cast("long"),
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .withColumnRenamed("g", "source")
      .orderBy("source"),
    Some(s"WITH sc AS (SELECT source, CAST($duckNTok AS BIGINT) AS v " +
      "FROM documents WHERE text IS NOT NULL), " + // observed values only
      "h AS (SELECT source, v, count(*) AS c FROM sc GROUP BY source, v), " +
      "cw AS (SELECT source, v, sum(c) OVER (PARTITION BY source " +
      "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf, " +
      "sum(c) OVER (PARTITION BY source) AS n FROM h) " +
      "SELECT source, " +
      "min(CASE WHEN cf >= ceil(n * CAST(0.5 AS DOUBLE)) THEN v END) AS p50, " +
      "min(CASE WHEN cf >= ceil(n * CAST(0.9 AS DOUBLE)) THEN v END) AS p90, " +
      "min(CASE WHEN cf >= ceil(n * CAST(0.99 AS DOUBLE)) THEN v END) AS p99 " +
      "FROM cw GROUP BY source ORDER BY source NULLS FIRST"))

  /** [EXT] L66 vocabulary token-id mapping ([[TextAnalysis.tokenIds]]):
    * top-1000 frequency-ranked vocabulary (ties lexicographic — total
    * order), every doc mapped to its ordered id sequence with OOV → 0
    * plus the OOV audit — the tokenize-to-ids step between curation
    * and packing. Vocabulary broadcasts; ids reassemble per doc.
    */
  private val qTokenIds = Q("q_token_ids",
    (s, d) => TextAnalysis.tokenIds(t(s, d, "documents"),
        col("text"), col("doc_id"), vocabSize = 1000)
      .orderBy("doc_id"),
    Some("WITH tf AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS n " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents) " +
      "GROUP BY t), " +
      "vocab AS (SELECT term, CAST(row_number() OVER (ORDER BY n DESC, " +
      "term) AS BIGINT) AS tok_id FROM tf ORDER BY n DESC, term " +
      "LIMIT 1000), " +
      "toks AS (SELECT doc_id, i - 1 AS pos, " +
      "string_split(text, ' ')[i] AS term FROM (SELECT doc_id, text, " +
      "unnest(generate_series(1, len(string_split(text, ' ')))) AS i " +
      "FROM documents)), " +
      "j AS (SELECT doc_id, pos, coalesce(v.tok_id, 0) AS tid, " +
      "CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov " +
      "FROM toks t LEFT JOIN vocab v USING (term)) " +
      "SELECT doc_id, string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) " +
      "AS ids, CAST(count(*) AS BIGINT) AS n_tok, " +
      "CAST(sum(oov) AS BIGINT) AS n_oov FROM j GROUP BY doc_id " +
      "ORDER BY doc_id"))

  /** DuckDB fragment: the greedy wordpiece step length at position
    * `pos` of word `w` — generated from the SAME vocabulary Seq the
    * Spark kernel uses (one source of truth), longest length first,
    * single char as the ELSE fallback.
    */
  private def duckWpStep: String = {
    val byLen = graft.functions.WordpieceVocab.Pieces
      .groupBy(_.length).toSeq.sortBy(-_._1)
    "CASE " + byLen.map { case (l, ps) =>
      s"WHEN substr(w,pos+1,$l) IN (${ps.sorted.map(p => s"'$p'").mkString(",")}) THEN $l"
    }.mkString(" ") + " ELSE 1 END"
  }

  /** [EXT] Greedy wordpiece subword encode
    * ([[graft.ext.TextAnalysis.wordpiece]]): per-doc segmented pieces
    * + whole-word vs subword token counts — the SUBWORD count is what
    * sequence packing and token budgets actually consume (q_token_ids'
    * whole-word mapping under-counts it). Spark runs one codegen'd
    * kernel projection (zero shuffle, no vocabulary join); the oracle
    * replays the greedy longest-prefix automaton as a recursive CTE
    * over the DISTINCT words (word-domain-sized, not corpus-sized)
    * with the step CASE generated from the same vocabulary constant.
    */
  /** Shared wordpiece oracle CTEs (words / seg / wseg / toks / j / o):
    * the greedy segmentation automaton replayed over DISTINCT words
    * and re-attached per doc — ONE definition consumed by q_wordpiece
    * and q_tokenizer_fertility. A `def` (not val) so declaration
    * order vs its consumers cannot bite.
    */
  private def duckWordpieceCtes: String =
    "WITH RECURSIVE words AS (SELECT DISTINCT " +
      "unnest(string_split(text, ' ')) AS w FROM documents), " +
      "seg(w, pos, ps) AS (SELECT w, 0, '' FROM words " +
      "UNION ALL SELECT w, pos + s, CASE WHEN ps = '' THEN " +
      "substr(w, pos+1, s) ELSE ps || ' ' || substr(w, pos+1, s) END " +
      "FROM (SELECT w, pos, ps, " + duckWpStep + " AS s FROM seg " +
      "WHERE pos < len(w)) q), " +
      "wseg AS (SELECT w, ps FROM seg WHERE pos = len(w)), " +
      "toks AS (SELECT doc_id, i-1 AS pos, string_split(text,' ')[i] AS w " +
      "FROM (SELECT doc_id, text, unnest(generate_series(1, " +
      "len(string_split(text,' ')))) AS i FROM documents)), " +
      "j AS (SELECT doc_id, pos, ps FROM toks JOIN wseg USING (w)), " +
      "o AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, " +
      "string_agg(ps, ' ' ORDER BY pos) AS wp_text FROM j GROUP BY doc_id)"

  private val qWordpiece = Q("q_wordpiece",
    (s, d) => TextAnalysis.wordpiece(
        t(s, d, "documents"), col("text"), col("doc_id"))
      .orderBy("doc_id"),
    // re-attach via documents so a null-text doc yields a null row
    // (the Spark side is a pure select and keeps every doc)
    Some(duckWordpieceCtes + " " +
      "SELECT d.doc_id, o.n_tok, " +
      "CAST(len(string_split(o.wp_text,' ')) AS BIGINT) AS n_wp, " +
      "o.wp_text FROM documents d LEFT JOIN o USING (doc_id) " +
      "ORDER BY doc_id"))

  /** [EXT] Unigram-LM cross-entropy quality signal
    * ([[graft.ext.TextAnalysis.unigramCrossEntropy]]): per-doc
    * per-token bits under a corpus-trained unigram LM — the
    * CCNet-shape perplexity ranking that keeps typical prose and
    * surfaces rare-token noise. Costs quantized to integer micro-bits
    * so every cross-row sum AND the per-doc mean (floor division) are
    * exact BIGINT (shuffle-order-safe, no float rounding boundary);
    * the LM table is vocabulary-sized and broadcast back, never a
    * corpus shuffle-join. The oracle trains the identical LM and
    * replays the same integer quantization.
    */
  /** Shared unigram-LM oracle CTEs (tf / tot / lm / dt / c): the
    * corpus-trained LM and per-doc exact µbit costs — ONE definition
    * consumed by q_unigram_lm and q_perplexity_bucket (the same
    * single-source-of-truth discipline as duckWpStep). Declared
    * before its consumers: object vals initialize in order.
    */
  private val duckUnigramCtes =
    "tf AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS n " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents) " +
      "GROUP BY t), " +
      "tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM tf), " +
      "lm AS (SELECT term, CAST(round(-(ln(CAST(n AS DOUBLE) / nn) / ln(2.0)) " +
      "* 1000000) AS BIGINT) AS cost FROM tf, tot), " +
      "dt AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf " +
      "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t " +
      "FROM documents) GROUP BY 1, 2), " +
      "c AS (SELECT doc_id, CAST(sum(dt.tf * lm.cost) AS BIGINT) AS cost, " +
      "CAST(sum(dt.tf) AS BIGINT) AS n_tok FROM dt JOIN lm USING (term) " +
      "GROUP BY doc_id)"

  private val qUnigramLm = Q("q_unigram_lm",
    (s, d) => TextAnalysis.unigramCrossEntropy(
        t(s, d, "documents"), col("text"), col("doc_id"))
      .orderBy("doc_id"),
    Some("WITH " + duckUnigramCtes +
      " SELECT doc_id, n_tok, CAST(cost // n_tok AS BIGINT) AS bits_micro " +
      "FROM c ORDER BY doc_id"))

  /** [EXT] L92 interpolated bigram-LM cross-entropy
    * ([[TextAnalysis.bigramCrossEntropy]]): per-doc mean µbits per
    * token TRANSITION under a Jelinek–Mercer bigram LM
    * (0.9·p_ML(w2|w1) + 0.1·p_uni(w2)) trained on the corpus itself —
    * the first-order-sequence upgrade over q_unigram_lm's
    * bag-of-words signal (scrambled word salad is invisible to a
    * unigram, visibly worse here; CCNet's 5-gram KenLM is the same
    * idea at higher order). All count tables vocabulary-bounded, the
    * LM broadcast back over one corpus re-scan; exact BIGINT µbits
    * end-to-end. Sub-2-token docs have no transitions and are omitted
    * by contract. Oracle trains the identical LM with the identical
    * double literals (0.9/0.1 — NOT 1.0−0.9, a different double) and
    * replays the µbit quantization.
    */
  private val qBigramLm = Q("q_bigram_lm",
    (s, d) => TextAnalysis.bigramCrossEntropy(
        t(s, d, "documents"), col("text"), col("doc_id"))
      .orderBy("doc_id"),
    Some("WITH b AS (SELECT doc_id, unnest(" +
      TextHash.duckShingles("text", 2) + ") AS bigram FROM documents), " +
      "bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n12 " +
      "FROM b GROUP BY bigram), " +
      "bw AS (SELECT bigram, n12, split_part(bigram, ' ', 1) AS w1, " +
      "split_part(bigram, ' ', -1) AS w2 FROM bc), " +
      "ctx AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 " +
      "FROM bw GROUP BY w1), " +
      "tf AS (SELECT t AS w2, CAST(count(*) AS BIGINT) AS n2 FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS t FROM documents) " +
      "GROUP BY t), " +
      "tot AS (SELECT CAST(sum(n2) AS BIGINT) AS nn FROM tf), " +
      "lm AS (SELECT bigram, CAST(round(-(ln(" +
      "0.9 * (CAST(n12 AS DOUBLE) / n1) + " +
      "0.1 * (CAST(n2 AS DOUBLE) / nn)) / ln(2.0)) * 1000000) " +
      "AS BIGINT) AS cost " +
      "FROM bw JOIN ctx USING (w1) JOIN tf USING (w2), tot), " +
      "c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_big, " +
      "CAST(sum(cost) AS BIGINT) AS cost FROM b JOIN lm USING (bigram) " +
      "GROUP BY doc_id) " +
      "SELECT doc_id, n_big, CAST(cost // n_big AS BIGINT) AS bits_micro " +
      "FROM c ORDER BY doc_id"))

  /** [EXT] L93 cross-source overlap matrix
    * ([[TextAnalysis.sourceOverlap]]): per ordered source pair, the
    * share of a's distinct 3-gram shingles also present in b (exact
    * bps) — the mirror/syndication detector doc-level containment
    * cannot see (shared text spread across different docs). The
    * candidate join is the shared-shingle inverted index on 8-byte
    * hashes, both sides one reused exchange; pair rows are bounded by
    * domain², never corpus rows; zero-overlap pairs omitted by
    * contract on both engines.
    */
  private val qSourceOverlap = Q("q_source_overlap",
    (s, d) => TextAnalysis.sourceOverlap(
      t(s, d, "documents"), col("text"), col("source"), n = 3),
    Some("WITH sh AS (SELECT DISTINCT src, sh FROM " +
      "(SELECT source AS src, unnest(list_distinct(list_transform(" +
      TextHash.duckShingles("text", 3) + ", s -> " +
      TextHash.duckBaseHash("s") + "))) AS sh FROM documents)), " +
      "per AS (SELECT src, CAST(count(*) AS BIGINT) AS n_sh " +
      "FROM sh GROUP BY src), " +
      "pr AS (SELECT a.src AS src_a, b.src AS src_b, " +
      "CAST(count(*) AS BIGINT) AS n_shared FROM sh a JOIN sh b " +
      "USING (sh) WHERE a.src <> b.src GROUP BY 1, 2) " +
      "SELECT src_a, src_b, per.n_sh AS n_a, n_shared, " +
      "CAST(floor(n_shared * 10000 / per.n_sh) AS BIGINT) " +
      "AS overlap_bps FROM pr JOIN per ON per.src = pr.src_a " +
      "ORDER BY src_a, src_b"))

  /** [EXT] L72 corpus n-gram novelty by ingest order
    * ([[TextAnalysis.noveltyRate]]): per doc, the share of its distinct
    * 3-gram shingles first seen in THIS doc (min corpus doc_id) — the
    * redundancy dashboard that says whether later crawl snapshots are
    * still contributing new text. The election is a map-combined hash
    * aggregate on one shingle exchange (never a sorting window); the
    * denominator is a per-row projection; the ratio is exact integer
    * basis points; docs too short to shingle are omitted by contract.
    * Oracle replays the same election and floor arithmetic.
    */
  /** Full-corpus min-doc-id novelty replay — ONE definition consumed
    * by `q_ngram_novelty` (the direct operator) and
    * `q_novelty_refresh` (the durable-index lifecycle, whose batched
    * fold must reproduce this exact table).
    */
  private val duckNoveltySql: String =
    "WITH ex AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      TextHash.duckShingles("text", 3) + ", s -> " +
      TextHash.duckBaseHash("s") + "))) AS sh FROM documents), " +
      "base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles " +
      "FROM ex GROUP BY doc_id), " +
      "f AS (SELECT sh, min(doc_id) AS doc_id FROM ex GROUP BY sh), " +
      "nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel " +
      "FROM f GROUP BY doc_id) " +
      "SELECT b.doc_id, b.n_shingles, " +
      "CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel, " +
      "CAST(floor(COALESCE(nv.n_novel, 0) * 10000 / b.n_shingles) " +
      "AS BIGINT) AS novelty_bps " +
      "FROM base b LEFT JOIN nv USING (doc_id) ORDER BY doc_id"

  private val qNgramNovelty = Q("q_ngram_novelty",
    (s, d) => TextAnalysis.noveltyRate(
        t(s, d, "documents"), col("text"), col("doc_id"), n = 3)
      .orderBy("doc_id"),
    Some(duckNoveltySql))

  /** [EXT] L115 durable novelty-index lifecycle ([[NoveltyIndex]]):
    * the corpus processed as THREE id-ordered batches through the
    * stored artifact — build(b1) → commit → read → score b2 against
    * the stored segments → fold b2 in (incremental commit: only the
    * batch's NEW shingles become a segment) → re-read → score b3
    * across BOTH stored segments — must reproduce the full-corpus
    * [[TextAnalysis.noveltyRate]] table exactly. This is the
    * cross-engine gate on the artifact's whole day-2 loop (bucketed
    * segment write/read round trip included), the `q_dedup_refresh`
    * pattern applied to the novelty index; the oracle is the SAME
    * full-corpus fixpoint `q_ngram_novelty` checks, which is the
    * point: batching through the artifact must be invisible.
    *
    * Scale posture: each batch pays its own shingle election plus one
    * anti-join per stored segment (exchange-free on the bucketed index
    * side, NoveltyIndexSpec pins the plan); commits are batch-sized;
    * nothing ever re-reads the accumulated corpus.
    */
  private val qNoveltyRefresh = Q("q_novelty_refresh",
    (s, d) => {
      val docs = t(s, d, "documents")
      val b1 = docs.filter(col("doc_id") < 167)
      val b2 = docs.filter(col("doc_id") >= 167 && col("doc_id") < 334)
      val b3 = docs.filter(col("doc_id") >= 334)
      // tmp-dir artifact keyed by the fixture dir: reruns (bench
      // passes, fixture twins) rebuild from scratch deterministically
      // pid-qualified so concurrent harness processes on the same
      // fixture (or a hashCode collision) never share — and deleteTree —
      // one artifact dir; determinism within a run is unaffected
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_qnovr_" +
        s"${ProcessHandle.current().pid()}_${Integer.toHexString(d.hashCode)}"
      graft.ops.Staging.deleteTree(dir)
      NoveltyIndex.build(b1, col("text"), col("doc_id"), n = 3, buckets = 8)
        .write(dir)
      val idx1 = NoveltyIndex.read(s, dir)
      val r2 = idx1.novelty(b2, col("text"), col("doc_id"))
      // write returns the committed view (== an immediate re-read,
      // spec-pinned) — the day-3 scoring serves from it directly
      val idx2 = idx1.update(b2, col("text"), col("doc_id")).write(dir)
      val r3 = idx2.novelty(b3, col("text"), col("doc_id"))
      TextAnalysis.noveltyRate(b1, col("text"), col("doc_id"), n = 3)
        .unionByName(r2).unionByName(r3).orderBy("doc_id")
    },
    Some(duckNoveltySql))

  /** [EXT] L119 durable-artifact COMPACTION under the cross-engine
    * gate ([[NoveltyIndex.compact]] — the segment fold all four
    * artifacts share, [[graft.ops.SegmentedArtifact.compact]]): the
    * `q_novelty_refresh` loop with a compaction spliced in —
    * build(b1) → commit → read → score
    * b2 → fold b2 in → commit (two live segments) → COMPACT (one
    * folded segment, superseded versions swept to the retention
    * window) → re-read → score b3 against the COMPACTED artifact. The
    * oracle is the SAME full-corpus fixpoint as `q_ngram_novelty`,
    * which is the gate: a compaction that lost shingles, double-wrote
    * them into the folded segment, broke the bucketed layout, or
    * swept a segment the pre-compact reader still pins would move
    * some doc's novelty rate (or crash the b2 scoring, which
    * evaluates lazily AFTER the compact) and break the hash — its
    * INVISIBILITY is what this row proves (the `q_ann_retrain` rule
    * applied to segment folding). `Maintenance.fold`'s auto-triggers
    * are additionally soak-pinned in StreamingIndexesSpec; this row
    * puts the rewrite itself under the per-round DuckDB hash.
    *
    * Scale posture: compaction is the amortized corpus-sized rewrite
    * that bounds segment growth (read amplification and per-batch
    * fold cost stay O(threshold), never O(stream age)); it reads each
    * live segment once, writes once, and commits through the same
    * versioned pointer readers already resolve.
    */
  private val qNoveltyCompact = Q("q_novelty_compact",
    (s, d) => {
      val docs = t(s, d, "documents")
      val b1 = docs.filter(col("doc_id") < 167)
      val b2 = docs.filter(col("doc_id") >= 167 && col("doc_id") < 334)
      val b3 = docs.filter(col("doc_id") >= 334)
      // pid- and fixture-qualified tmp artifact (the q_novelty_refresh
      // rule): reruns rebuild deterministically, concurrent harnesses
      // never share a dir
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_qnovc_" +
        s"${ProcessHandle.current().pid()}_${Integer.toHexString(d.hashCode)}"
      graft.ops.Staging.deleteTree(dir)
      NoveltyIndex.build(b1, col("text"), col("doc_id"), n = 3, buckets = 8)
        .write(dir)
      val idx1 = NoveltyIndex.read(s, dir)
      val r2 = idx1.novelty(b2, col("text"), col("doc_id"))
      idx1.update(b2, col("text"), col("doc_id")).write(dir)
      // two live segments -> one; retain = 1 (EXPLICIT, not the
      // default) keeps the pre-compact version whose manifest pins
      // segment s1 — r2 above is evaluated lazily AFTER this compact,
      // so its correctness depends on that retention window, which
      // must not silently follow a remote default
      NoveltyIndex.compact(s, dir, retain = 1)
      val r3 = NoveltyIndex.read(s, dir)
        .novelty(b3, col("text"), col("doc_id"))
      TextAnalysis.noveltyRate(b1, col("text"), col("doc_id"), n = 3)
        .unionByName(r2).unionByName(r3).orderBy("doc_id")
    },
    Some(duckNoveltySql))

  /** [EXT] L74 corpus vocabulary growth curve
    * ([[TextAnalysis.vocabGrowth]]): new distinct 3-gram shingles per
    * ingest-order decile + running cumulative — the Heaps-law
    * saturation diagnostic ("is this crawl still adding new text").
    * Rides the same shingle election cost class as q_ngram_novelty;
    * the max-doc bound is one broadcast row and the cumulative window
    * runs over the 10-row decile table, never the corpus. Deciles
    * partition the vocabulary exactly (property-tested:
    * sum(n_new) = corpus distinct shingles).
    */
  private val qVocabGrowth = Q("q_vocab_growth",
    (s, d) => TextAnalysis.vocabGrowth(
      t(s, d, "documents"), col("text"), col("doc_id"), n = 3),
    Some("WITH ex AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      TextHash.duckShingles("text", 3) + ", s -> " +
      TextHash.duckBaseHash("s") + "))) AS sh FROM documents), " +
      "f AS (SELECT sh, min(doc_id) AS first_doc FROM ex GROUP BY sh), " +
      "m AS (SELECT max(doc_id) + 1 AS n_docs FROM documents), " +
      "b AS (SELECT CAST(floor(first_doc * 10 / n_docs) AS BIGINT) " +
      "AS bucket FROM f, m), " +
      "g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new " +
      "FROM b GROUP BY bucket) " +
      "SELECT bucket, n_new, CAST(sum(n_new) OVER (ORDER BY bucket " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
      "AS cum_vocab FROM g ORDER BY bucket"))

  /** DuckDB fragments replaying the PQ trajectory: subvector split,
    * L2-equivalent assignment (x·c − ‖c‖²/2 argmax), fixed-point Lloyd
    * update, ADC lookup-table search — shared CTE chain for `q_ann_pq`.
    */
  private def duckPqAssign(name: String, cent: String,
                           sub: String = "sub"): String = {
    val sc = s"(list_dot_product($sub.sv, c.cv) - " +
      "list_dot_product(c.cv, c.cv) / 2)"
    s"$name AS (SELECT vec_id, s, cid, sv FROM (" +
      s"SELECT $sub.vec_id, $sub.s, c.cid, $sub.sv, $sc AS score, " +
      s"row_number() OVER (PARTITION BY $sub.vec_id, $sub.s " +
      s"ORDER BY $sc DESC, c.cid) AS rn " +
      s"FROM $sub JOIN $cent c ON $sub.s = c.s) WHERE rn = 1)"
  }

  /** [EXT] L77 product-quantization ANN ([[Similarity.pqTrain]] /
    * [[Similarity.pqSearch]]): the standard 100 TB ANN compression —
    * m=4 per-subspace codebooks (seeded + one exact fixed-point Lloyd
    * pass, the k-means arithmetic), corpus encoded to m code cells,
    * queries answered by asymmetric-distance lookup tables whose
    * partial dots are quantized to exact BIGINT micro-units before the
    * per-vector sum (shuffle-order-proof). Corpus vectors are never
    * read at query time — only the m-cell codes. Oracle replays the
    * whole trajectory: split, seeded assignment, Lloyd update,
    * re-encode, LUT search.
    */
  private val qAnnPq = Q("q_ann_pq",
    (s, d) => {
      val (m, subDim) = (4, 16)
      val n = embNorm(s, d)
      // codebook materialized once: it has two consumers (encode + LUT)
      val cent = Similarity.pqTrain(n, m, subDim).localCheckpoint(false)
      val codes = Similarity.pqAssign(
        Similarity.pqSubvectors(n, m, subDim), cent)
        .select(col("vec_id"), col("s"), col("cid"))
      Similarity.pqSearch(n.filter(col("vec_id") < 4), cent, codes,
          m, subDim, k = 10)
        .orderBy("qid", "rnk")
    },
    Some(duckPqCtes("q.vec_id < 4") +
      " SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, score FROM r " +
      "WHERE rnk <= 10 ORDER BY qid, rnk"))

  /** PQ trajectory prefix (split → seed → Lloyd → encode → LUT),
    * parameterized by the query-set predicate — shared by the PQ ADC
    * scan ([[duckPqCtes]]) and the IVF-PQ composition, which restricts
    * the scored set to probed cells before the same LUT sum.
    */
  private def duckPqPrefix(queryPred: String): String =
    duckNormCte + ", " +
      "sub AS (SELECT vec_id, s, v[s * 16 + 1 : s * 16 + 16] AS sv " +
      "FROM n, (SELECT unnest([0, 1, 2, 3]) AS s) ss), " +
      "c0 AS (SELECT s, vec_id AS cid, sv AS cv FROM sub " +
      "WHERE vec_id % 100 = 0), " +
      duckPqAssign("a1", "c0") + ", " +
      "u1 AS (SELECT s, cid, u.dim AS dim, sum(u.q) AS sm, count(*) AS n " +
      "FROM (SELECT s, cid, unnest(list_transform(" +
      "generate_series(1, len(sv)), i -> {'dim': i - 1, " +
      "'q': CAST(floor(CAST(sv[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT)})) " +
      "AS u FROM a1) GROUP BY s, cid, u.dim), " +
      "c1 AS (SELECT s, cid, list(CAST(sm AS DOUBLE) / (n * 10000) " +
      "ORDER BY dim) AS cv FROM u1 GROUP BY s, cid), " +
      duckPqAssign("codes", "c1") + ", " +
      "lut AS (SELECT q.vec_id AS qid, c.s, c.cid, " +
      "CAST(floor(list_dot_product(q.v[c.s * 16 + 1 : c.s * 16 + 16], " +
      "c.cv) * 1000000 + 0.5) AS BIGINT) AS d " +
      s"FROM n q CROSS JOIN c1 c WHERE $queryPred)"

  /** Full PQ trajectory CTE chain (the prefix + full-corpus ADC scan →
    * ranked scores in `r`) — shared by `q_ann_pq` and `q_pq_recall`.
    */
  private def duckPqCtes(queryPred: String): String =
    duckPqPrefix(queryPred) + ", " +
      "sc AS (SELECT lut.qid, codes.vec_id, CAST(sum(lut.d) AS BIGINT) " +
      "AS score FROM codes JOIN lut ON codes.s = lut.s " +
      "AND codes.cid = lut.cid AND codes.vec_id <> lut.qid " +
      "GROUP BY lut.qid, codes.vec_id), " +
      "r AS (SELECT qid, vec_id, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM sc)"

  /** IVF assignment + probe + candidate CTEs over the norm frame `n`
    * (icent/iasg/qp/cand), shared by the IVF-PQ pair. `icell` naming
    * avoids colliding with the PQ codebooks' `cid`.
    */
  private def duckIvfCand(queryPred: String, nprobe: Int): String =
    "icent AS (SELECT * FROM n WHERE vec_id % 100 = 0), " +
      "iasg AS (SELECT vec_id, icell FROM (" +
      "SELECT n.vec_id, c.vec_id AS icell, row_number() OVER (" +
      "PARTITION BY n.vec_id ORDER BY " +
      "list_dot_product(n.v, c.v) / (n.nm * c.nm) DESC, c.vec_id) AS rn " +
      "FROM n CROSS JOIN icent c) WHERE rn = 1), " +
      "qp AS (SELECT qid, icell FROM (" +
      "SELECT q.vec_id AS qid, c.vec_id AS icell, row_number() OVER (" +
      "PARTITION BY q.vec_id ORDER BY " +
      "list_dot_product(q.v, c.v) / (q.nm * c.nm) DESC, c.vec_id) AS rn " +
      s"FROM n q CROSS JOIN icent c WHERE $queryPred) WHERE rn <= $nprobe), " +
      "cand AS (SELECT qp.qid, iasg.vec_id FROM iasg " +
      "JOIN qp USING (icell) WHERE iasg.vec_id <> qp.qid)"

  /** ADC scoring restricted to the IVF candidates + ranked `r` — the
    * IVF-PQ tail shared by `q_ann_ivfpq` and `q_ivfpq_recall`.
    */
  private def duckIvfPqRanked(queryPred: String, nprobe: Int): String =
    duckPqPrefix(queryPred) + ", " + duckIvfCand(queryPred, nprobe) + ", " +
      "sc AS (SELECT cand.qid, cand.vec_id, CAST(sum(lut.d) AS BIGINT) " +
      "AS score FROM cand JOIN codes ON codes.vec_id = cand.vec_id " +
      "JOIN lut ON lut.qid = cand.qid AND lut.s = codes.s " +
      "AND lut.cid = codes.cid GROUP BY cand.qid, cand.vec_id), " +
      "r AS (SELECT qid, vec_id, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM sc)"

  /** [EXT] L112 IVF-PQ composed ANN ([[Similarity.ivfPqTopK]]): the
    * standard FAISS IndexIVFPQ shape — IVF cluster pruning bounds
    * WHICH vectors are scored (nprobe = 3 cells per query), PQ
    * asymmetric-distance lookup bounds WHAT is read per candidate
    * (m = 4 code cells, never the vector). Oracle replays the full
    * composed trajectory: codebook Lloyd pass, corpus encode, IVF
    * assignment, probe election, candidate-restricted ADC ranking.
    */
  private val qAnnIvfPq = Q("q_ann_ivfpq",
    (s, d) => {
      val (m, subDim) = (4, 16)
      val n = embNorm(s, d)
      val cent = Similarity.pqTrain(n, m, subDim).localCheckpoint(false)
      val codes = Similarity.pqAssign(
        Similarity.pqSubvectors(n, m, subDim), cent)
        .select(col("vec_id"), col("s"), col("cid"))
      Similarity.ivfPqTopK(
          corpus = n,
          centroids = n.filter(col("vec_id") % 100 === 0),
          queries = n.filter(col("vec_id").isin(1, 2, 3, 4)),
          pqCent = cent, codes = codes,
          m = m, subDim = subDim, k = 5, nprobe = 3)
        .orderBy("qid", "rnk")
    },
    Some(duckIvfPqRanked("q.vec_id IN (1, 2, 3, 4)", nprobe = 3) +
      " SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, score FROM r " +
      "WHERE rnk <= 5 ORDER BY qid, rnk"))

  /** [EXT] L113 IVF-PQ recall evaluation: recall@5 of the composed
    * index against exact brute-force truth — the row beside
    * `q_pq_recall` (ADC-only) and `q_ann_recall` (IVF-only) that
    * prices the COMPOSITION: cell pruning and code compression lose
    * recall multiplicatively, and this is the dial that says whether
    * nprobe or m is the binding constraint. Truth pays the deliberate
    * exact enumeration the eval grades against.
    */
  private val qIvfPqRecall = Q("q_ivfpq_recall",
    (s, d) => {
      val (m, subDim) = (4, 16)
      val n = embNorm(s, d)
      val queries = n.filter(col("vec_id").isin(1, 2, 3, 4))
      val truth = Similarity.bruteForceTopK(queries, n, k = 5)
        .select(col("qid"), col("vec_id"))
      val cent = Similarity.pqTrain(n, m, subDim).localCheckpoint(false)
      val codes = Similarity.pqAssign(
        Similarity.pqSubvectors(n, m, subDim), cent)
        .select(col("vec_id"), col("s"), col("cid"))
      val approx = Similarity.ivfPqTopK(
          corpus = n,
          centroids = n.filter(col("vec_id") % 100 === 0),
          queries = queries, pqCent = cent, codes = codes,
          m = m, subDim = subDim, k = 5, nprobe = 3)
        .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
      truth.join(approx, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("found"))
        .select(col("qid"), col("k"), col("found"),
          (col("found").cast("double") / col("k")).as("recall"))
        .orderBy("qid")
    },
    Some(duckIvfPqRanked("q.vec_id IN (1, 2, 3, 4)", nprobe = 3) + ", " +
      "tr AS (SELECT qid, vec_id FROM (SELECT a.vec_id AS qid, b.vec_id, " +
      "row_number() OVER (PARTITION BY a.vec_id ORDER BY " +
      "list_dot_product(a.v, b.v) / (a.nm * b.nm) DESC, b.vec_id) AS rnk " +
      "FROM n a JOIN n b ON a.vec_id IN (1, 2, 3, 4) " +
      "AND b.vec_id <> a.vec_id) WHERE rnk <= 5), " +
      "ap AS (SELECT qid, vec_id, 1 AS hit FROM r WHERE rnk <= 5) " +
      "SELECT tr.qid, CAST(count(*) AS BIGINT) AS k, " +
      "CAST(sum(COALESCE(ap.hit, 0)) AS BIGINT) AS found, " +
      "CAST(sum(COALESCE(ap.hit, 0)) AS DOUBLE) / count(*) AS recall " +
      "FROM tr LEFT JOIN ap ON tr.qid = ap.qid AND tr.vec_id = ap.vec_id " +
      "GROUP BY tr.qid ORDER BY tr.qid"))

  /** [EXT] L116 durable ANN-index lifecycle ([[AnnIndex]]): train on
    * HALF the corpus (even ids, 1 Lloyd pass, library seed
    * convention), commit, re-open, [[AnnIndex.refresh]] the odd half
    * in (incremental commit: only the new batch's code segment is
    * written), re-open again, and serve top-k from the two-segment
    * stored artifact — the whole day-2 loop (versioned-pointer round
    * trips, icell-partitioned segment layout, frozen-artifact encode)
    * as ONE cross-engine row, the `q_dedup_refresh` pattern for ANN.
    * DuckDB replays the full trajectory over the same split: IVF
    * seeds → one Lloyd fixed-point update over the TRAIN slice only,
    * PQ codebook likewise, then union-corpus encode, probe election
    * (nprobe 3), and candidate-restricted ADC ranking — if refresh
    * mixed code spaces, dropped a segment, or re-encoded under drifted
    * centroids, the hash breaks.
    *
    * Scale posture: training touches the train slice once; refresh
    * touches only the new batch (pure per-vector encode, broadcast
    * artifacts); serving reads probed cells' code rows only — corpus
    * vectors are never read at query time.
    */
  private val qAnnRefresh = Q("q_ann_refresh",
    (s, d) => {
      val (m, subDim) = (4, 16)
      val n = embNorm(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_qannr_" +
        s"${ProcessHandle.current().pid()}_${Integer.toHexString(d.hashCode)}"
      graft.ops.Staging.deleteTree(dir)
      AnnIndex.train(n.filter(col("vec_id") % 2 === 0), m, subDim,
        lloydIters = 1).write(dir)
      // write returns the committed view (== an immediate re-read,
      // spec-pinned) — serve skips the re-open round trip; the read →
      // refresh leg still exercises the re-open path end-to-end
      AnnIndex.read(s, dir).refresh(n.filter(col("vec_id") % 2 === 1))
        .write(dir)
        .search(n.filter(col("vec_id").isin(1, 2, 3, 4)), k = 5, nprobe = 3)
        .orderBy("qid", "rnk")
    },
    Some(duckNormCte + ", " +
      "na AS (SELECT * FROM n WHERE vec_id % 2 = 0), " +
      // IVF training on the even half: seeds → one Lloyd pass
      "c0 AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM na " +
      "WHERE vec_id % 100 = 0), " +
      duckKmAssign("a1", "c0", keepCos = false, corpus = "na") + ", " +
      duckKmUpdate("u1", "a1") + ", " +
      duckKmCent("c1n", "u1") + ", " +
      // PQ training on the even half; encoding over the full corpus
      "suba AS (SELECT vec_id, s, v[s * 16 + 1 : s * 16 + 16] AS sv " +
      "FROM na, (SELECT unnest([0, 1, 2, 3]) AS s) ss), " +
      "subu AS (SELECT vec_id, s, v[s * 16 + 1 : s * 16 + 16] AS sv " +
      "FROM n, (SELECT unnest([0, 1, 2, 3]) AS s) ss), " +
      "p0 AS (SELECT s, vec_id AS cid, sv AS cv FROM suba " +
      "WHERE vec_id % 100 = 0), " +
      duckPqAssign("pa1", "p0", sub = "suba") + ", " +
      "pu1 AS (SELECT s, cid, u.dim AS dim, sum(u.q) AS sm, count(*) AS n " +
      "FROM (SELECT s, cid, unnest(list_transform(" +
      "generate_series(1, len(sv)), i -> {'dim': i - 1, " +
      "'q': CAST(floor(CAST(sv[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT)})) " +
      "AS u FROM pa1) GROUP BY s, cid, u.dim), " +
      "pc1 AS (SELECT s, cid, list(CAST(sm AS DOUBLE) / (n * 10000) " +
      "ORDER BY dim) AS cv FROM pu1 GROUP BY s, cid), " +
      duckPqAssign("codes", "pc1", sub = "subu") + ", " +
      // union-corpus IVF assignment against the TRAINED centroids
      duckKmAssign("af", "c1n", keepCos = false) + ", " +
      "iasg AS (SELECT vec_id, cid AS icell FROM af), " +
      // probe election + ADC lookup tables for the query set
      "qp AS (SELECT qid, icell FROM (SELECT n.vec_id AS qid, " +
      "c.cid AS icell, row_number() OVER (PARTITION BY n.vec_id " +
      "ORDER BY list_dot_product(n.v, c.cv) / (n.nm * c.cn) DESC, c.cid) " +
      "AS rn FROM n CROSS JOIN c1n c WHERE n.vec_id IN (1, 2, 3, 4)) " +
      "WHERE rn <= 3), " +
      "lut AS (SELECT q.vec_id AS qid, c.s, c.cid, " +
      "CAST(floor(list_dot_product(q.v[c.s * 16 + 1 : c.s * 16 + 16], " +
      "c.cv) * 1000000 + 0.5) AS BIGINT) AS d " +
      "FROM n q CROSS JOIN pc1 c WHERE q.vec_id IN (1, 2, 3, 4)), " +
      "cand AS (SELECT qp.qid, iasg.vec_id FROM iasg JOIN qp USING (icell) " +
      "WHERE iasg.vec_id <> qp.qid), " +
      "sc AS (SELECT cand.qid, cand.vec_id, CAST(sum(lut.d) AS BIGINT) " +
      "AS score FROM cand JOIN codes ON codes.vec_id = cand.vec_id " +
      "JOIN lut ON lut.qid = cand.qid AND lut.s = codes.s " +
      "AND lut.cid = codes.cid GROUP BY cand.qid, cand.vec_id), " +
      "r AS (SELECT qid, vec_id, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM sc) " +
      "SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, score FROM r " +
      "WHERE rnk <= 5 ORDER BY qid, rnk"))

  /** [EXT] L118 durable ANN-index RETRAIN lifecycle
    * ([[AnnIndex.retrain]] — the full-generation recommit behind the
    * [[graft.streaming.StreamingAnn]] drift policy): train on the
    * first third, commit; re-open, refresh the second third in
    * (mixed-segment state); RETRAIN over the ingested corpus (fresh
    * centroids + codebooks + ONE re-encoded code segment replacing the
    * old generation, streaming batchId preserved); serve from the
    * returned committed view (== an immediate re-open, spec-pinned).
    * DuckDB replays the RETRAINED generation directly — a fresh
    * IVF+PQ fixed-point train + encode over the two-thirds corpus,
    * probe election, candidate-restricted ADC — so a retrain that
    * leaked old-generation segments, mixed code spaces, or drifted
    * from deterministic re-training breaks the hash. (The refresh leg
    * is invisible in a CORRECT final artifact — that invisibility is
    * exactly what this row gates.)
    *
    * Scale posture: retrain is the one deliberate corpus-sized rewrite
    * of the ANN lifecycle (PQ codes are lossy, vectors re-read from
    * the lake once); everything around it stays batch-bound, and the
    * generation swap is a versioned-pointer commit readers survive.
    */
  private val qAnnRetrain = Q("q_ann_retrain",
    (s, d) => {
      val (m, subDim) = (4, 16)
      val n = embNorm(s, d)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_qannrt_" +
        s"${ProcessHandle.current().pid()}_${Integer.toHexString(d.hashCode)}"
      graft.ops.Staging.deleteTree(dir)
      AnnIndex.train(n.filter(col("vec_id") % 3 === 0), m, subDim,
        lloydIters = 1).write(dir)
      AnnIndex.read(s, dir).refresh(n.filter(col("vec_id") % 3 === 1))
        .write(dir)
      // serve from retrain's returned COMMITTED view (== an immediate
      // re-read, spec-pinned) — the re-open path is already exercised
      // end-to-end by the read → refresh leg above
      AnnIndex.retrain(s, dir, n.filter(col("vec_id") % 3 =!= 2),
          lloydIters = 1)
        .search(n.filter(col("vec_id").isin(1, 2, 3, 4)), k = 5, nprobe = 3)
        .orderBy("qid", "rnk")
    },
    Some(duckNormCte + ", " +
      // the ingested corpus (thirds 0+1) — the retrained generation's
      // train AND encode slice
      "nc AS (SELECT * FROM n WHERE vec_id % 3 <> 2), " +
      "c0 AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM nc " +
      "WHERE vec_id % 100 = 0), " +
      duckKmAssign("a1", "c0", keepCos = false, corpus = "nc") + ", " +
      duckKmUpdate("u1", "a1") + ", " +
      duckKmCent("c1n", "u1") + ", " +
      "subc AS (SELECT vec_id, s, v[s * 16 + 1 : s * 16 + 16] AS sv " +
      "FROM nc, (SELECT unnest([0, 1, 2, 3]) AS s) ss), " +
      "p0 AS (SELECT s, vec_id AS cid, sv AS cv FROM subc " +
      "WHERE vec_id % 100 = 0), " +
      duckPqAssign("pa1", "p0", sub = "subc") + ", " +
      "pu1 AS (SELECT s, cid, u.dim AS dim, sum(u.q) AS sm, count(*) AS n " +
      "FROM (SELECT s, cid, unnest(list_transform(" +
      "generate_series(1, len(sv)), i -> {'dim': i - 1, " +
      "'q': CAST(floor(CAST(sv[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT)})) " +
      "AS u FROM pa1) GROUP BY s, cid, u.dim), " +
      "pc1 AS (SELECT s, cid, list(CAST(sm AS DOUBLE) / (n * 10000) " +
      "ORDER BY dim) AS cv FROM pu1 GROUP BY s, cid), " +
      duckPqAssign("codes", "pc1", sub = "subc") + ", " +
      duckKmAssign("af", "c1n", keepCos = false, corpus = "nc") + ", " +
      "iasg AS (SELECT vec_id, cid AS icell FROM af), " +
      "qp AS (SELECT qid, icell FROM (SELECT n.vec_id AS qid, " +
      "c.cid AS icell, row_number() OVER (PARTITION BY n.vec_id " +
      "ORDER BY list_dot_product(n.v, c.cv) / (n.nm * c.cn) DESC, c.cid) " +
      "AS rn FROM n CROSS JOIN c1n c WHERE n.vec_id IN (1, 2, 3, 4)) " +
      "WHERE rn <= 3), " +
      "lut AS (SELECT q.vec_id AS qid, c.s, c.cid, " +
      "CAST(floor(list_dot_product(q.v[c.s * 16 + 1 : c.s * 16 + 16], " +
      "c.cv) * 1000000 + 0.5) AS BIGINT) AS d " +
      "FROM n q CROSS JOIN pc1 c WHERE q.vec_id IN (1, 2, 3, 4)), " +
      "cand AS (SELECT qp.qid, iasg.vec_id FROM iasg JOIN qp USING (icell) " +
      "WHERE iasg.vec_id <> qp.qid), " +
      "sc AS (SELECT cand.qid, cand.vec_id, CAST(sum(lut.d) AS BIGINT) " +
      "AS score FROM cand JOIN codes ON codes.vec_id = cand.vec_id " +
      "JOIN lut ON lut.qid = cand.qid AND lut.s = codes.s " +
      "AND lut.cid = codes.cid GROUP BY cand.qid, cand.vec_id), " +
      "r AS (SELECT qid, vec_id, score, row_number() OVER (" +
      "PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM sc) " +
      "SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, score FROM r " +
      "WHERE rnk <= 5 ORDER BY qid, rnk"))

  /** Where `q_media_dedup` publishes its EXTRACTED fingerprint table
    * for the oracle: DuckDB cannot decode PNG, so the cross-engine gate
    * runs over the SAME Spark-extracted table — the decode → dHash path
    * itself is pinned by construction in MultimodalSpec (every
    * synthesized payload hashes to its closed-form target fingerprint).
    * Pid-qualified like the lifecycle artifact dirs (concurrent
    * harnesses never clobber each other) and embedded VERBATIM in the
    * oracle SQL — writer and SQL text come from the same JVM, so they
    * always agree. UNLIKE those dirs it cannot also carry the fixture
    * hash (the oracle SQL is one static string per JVM), so the
    * contract is one live fixture per evaluation: the query rebuilds
    * the table at evaluation time and eagerly materializes its result,
    * so a later evaluation against another fixture clobbers only the
    * table a finished query no longer depends on.
    */
  private val mediaFpDir = s"${System.getProperty("java.io.tmpdir")}" +
    s"/graft_media_fp_${ProcessHandle.current().pid()}"

  /** [EXT] L117 multimodal near-duplicate detection
    * ([[graft.ext.Multimodal.synthesizeMedia]] →
    * [[graft.ext.Multimodal.perceptualFingerprints]] →
    * [[Dedup.simhashHammingPairs]]): REAL PNG payloads decode to
    * pixels, dHash to 64-bit perceptual fingerprints, and band into the
    * width-generic hamming pair-search (4 x 16-bit bands, pigeonhole
    * recall for hamming <= 3). The corrupt-payload class (truncated
    * PNGs, id%29==17 — the ragged-embedding discipline applied to
    * media) and non-image kinds fingerprint to NULL and are dropped by
    * the declared rule ON BOTH ENGINES (the extracted table carries
    * them; the filter is part of the gated query).
    *
    * Scale posture: decode is partition-local over opaque payload
    * bytes (never through the driver); the pair search is banded
    * bucket-join cost, never all-pairs; the fingerprint table is the
    * only thing that leaves the decode stage (8 bytes/blob — the 100 TB
    * media corpus reduces to a GB-scale dedup problem).
    */
  private val qMediaDedup = Q("q_media_dedup",
    (s, d) => {
      // repartition the 8-byte IDS, not the fingerprints: the fixture
      // table arrives as one parquet split, and a coalesce(1) at the
      // write would pin the whole synth+decode chain to that ONE task —
      // spreading the ids first keeps decode at cluster parallelism
      // (decodePar: one task per session core, scale-adaptive)
      // (the shape a real multi-file media lake gets for free) and the
      // write stays shuffle-free (a few tiny files; the oracle globs)
      val media = graft.ext.Multimodal.synthesizeMedia(
        t(s, d, "documents").select(col("doc_id")).repartition(decodePar(s)),
        col("doc_id"))
      graft.ops.Staging.deleteTree(mediaFpDir)
      graft.ext.Multimodal.perceptualFingerprints(media).toDF()
        .write.parquet(mediaFpDir)
      // both engines consume the WRITTEN table (same bytes), then run
      // the identical drop rule + banded hamming dedup
      val fps = s.read.parquet(mediaFpDir)
        .filter(col("kind") === "image" && col("fp").isNotNull)
        .select(col("media_id").as("doc_id"), col("fp"))
      // eager: the result (pair-table-sized) must not stay a lazy plan
      // over the shared fingerprint table, which the NEXT evaluation
      // (another fixture in this process) deleteTrees and rewrites
      Dedup.simhashHammingPairs(fps, maxDist = 3, bands = 4, bits = 64)
        .orderBy("da", "db")
        .localCheckpoint(true)
    },
    Some("WITH fp AS (SELECT media_id, fp FROM " +
      s"read_parquet('$mediaFpDir/*.parquet') " +
      "WHERE kind = 'image' AND fp IS NOT NULL), " +
      "bands AS (SELECT media_id, fp, b, (fp >> (b * 16)) & 65535 AS key " +
      "FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)), " +
      "cand AS (SELECT DISTINCT x.media_id AS da, y.media_id AS db, " +
      "x.fp AS fa, y.fp AS fb FROM bands x JOIN bands y " +
      "ON x.b = y.b AND x.key = y.key AND x.media_id < y.media_id) " +
      "SELECT da, db, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming " +
      "FROM cand WHERE bit_count(xor(fa, fb)) <= 3 ORDER BY da, db"))

  /** `q_audio_dedup`'s extracted-fingerprint publish dir — the
    * [[mediaFpDir]] contract verbatim (pid-qualified, one live fixture
    * per evaluation, oracle SQL reads the same written bytes).
    */
  private val audioFpDir = s"${System.getProperty("java.io.tmpdir")}" +
    s"/graft_audio_fp_${ProcessHandle.current().pid()}"

  /** [EXT] L117 multimodal near-duplicate detection, AUDIO column
    * ([[graft.ext.Multimodal.synthesizeAudio]] →
    * [[graft.ext.Multimodal.audioFingerprints]] →
    * [[Dedup.simhashHammingPairs]]): REAL 16-bit PCM WAV payloads
    * decode to samples, hash via the framed-FFT band-ordering
    * fingerprint (the dHash construction transposed to the
    * spectro-temporal grid — 8 time frames x 9 band powers → 64 bits),
    * and band into the same width-generic hamming pair search as the
    * image row. The corrupt-payload class (truncated WAVs, id%23==7 —
    * deliberately a DIFFERENT id class than the image fixture's so the
    * two modalities gate different pair tables) and non-audio kinds
    * fingerprint to NULL and are dropped by the declared rule ON BOTH
    * ENGINES. The decode → fingerprint path itself is pinned by
    * construction in MultimodalSpec (every synthesized clip hashes to
    * its closed-form target); DuckDB cannot decode WAV, so the
    * cross-engine gate runs over the SAME Spark-extracted fingerprint
    * table ([[mediaFpDir]]'s contract).
    *
    * Scale posture: identical to `q_media_dedup` — decode is
    * partition-local over opaque payload bytes, the pair search is
    * banded bucket-join cost, and only 8 bytes/clip leave the decode
    * stage.
    */
  private val qAudioDedup = Q("q_audio_dedup",
    (s, d) => {
      // spread the ids BEFORE synthesis (the q_media_dedup rule): the
      // fixture table arrives as one split and decode must run at
      // cluster parallelism, never pinned to one task
      val clips = graft.ext.Multimodal.synthesizeAudio(
        t(s, d, "documents").select(col("doc_id")).repartition(decodePar(s)),
        col("doc_id"))
      graft.ops.Staging.deleteTree(audioFpDir)
      graft.ext.Multimodal.audioFingerprints(clips).toDF()
        .write.parquet(audioFpDir)
      val fps = s.read.parquet(audioFpDir)
        .filter(col("kind") === "audio" && col("fp").isNotNull)
        .select(col("media_id").as("doc_id"), col("fp"))
      // eager for the same reason as q_media_dedup: the shared
      // fingerprint table is rewritten by the next evaluation
      Dedup.simhashHammingPairs(fps, maxDist = 3, bands = 4, bits = 64)
        .orderBy("da", "db")
        .localCheckpoint(true)
    },
    Some("WITH fp AS (SELECT media_id, fp FROM " +
      s"read_parquet('$audioFpDir/*.parquet') " +
      "WHERE kind = 'audio' AND fp IS NOT NULL), " +
      "bands AS (SELECT media_id, fp, b, (fp >> (b * 16)) & 65535 AS key " +
      "FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)), " +
      "cand AS (SELECT DISTINCT x.media_id AS da, y.media_id AS db, " +
      "x.fp AS fa, y.fp AS fb FROM bands x JOIN bands y " +
      "ON x.b = y.b AND x.key = y.key AND x.media_id < y.media_id) " +
      "SELECT da, db, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming " +
      "FROM cand WHERE bit_count(xor(fa, fb)) <= 3 ORDER BY da, db"))

  /** `q_video_dedup`'s extracted-fingerprint publish dir — the
    * [[mediaFpDir]] contract verbatim.
    */
  private val videoFpDir = s"${System.getProperty("java.io.tmpdir")}" +
    s"/graft_video_fp_${ProcessHandle.current().pid()}"

  /** [EXT] L117c multimodal near-duplicate detection, VIDEO column
    * ([[graft.ext.Multimodal.synthesizeVideo]] →
    * [[graft.ext.Multimodal.videoFingerprints]] →
    * [[Dedup.simhashHammingPairs]]): REAL MJPEG-in-MP4 containers are
    * demuxed (pure-byte ISO BMFF box walk), the FIRST keyframe's JPEG
    * codestream decodes to pixels through the real JDK codec, dHashes
    * to a 64-bit fingerprint, and bands into the shared hamming pair
    * search — keyframe-0 hashing, the standard cheap video near-dup
    * pass. The fixture's keyframes land on their closed-form targets
    * THROUGH the lossy JPEG roundtrip (MultimodalSpec pins it); the
    * corrupt class (truncated MP4, id%19==11 — distinct from the
    * image and audio fixtures' classes so all three modalities gate
    * different pair tables) and non-video kinds fingerprint to NULL
    * and are dropped by the declared rule ON BOTH ENGINES. H.26x
    * codestreams would get NULL too (no codec in this environment —
    * the honest boundary): the drop rule IS the production shape for
    * undecodable-codec rows.
    *
    * Scale posture: identical to the image/audio rows — demux+decode
    * partition-local, pair search banded, 8 bytes/container leave the
    * decode stage.
    */
  private val qVideoDedup = Q("q_video_dedup",
    (s, d) => {
      val vids = graft.ext.Multimodal.synthesizeVideo(
        t(s, d, "documents").select(col("doc_id")).repartition(decodePar(s)),
        col("doc_id"))
      graft.ops.Staging.deleteTree(videoFpDir)
      graft.ext.Multimodal.videoFingerprints(vids).toDF()
        .write.parquet(videoFpDir)
      val fps = s.read.parquet(videoFpDir)
        .filter(col("kind") === "video" && col("fp").isNotNull)
        .select(col("media_id").as("doc_id"), col("fp"))
      Dedup.simhashHammingPairs(fps, maxDist = 3, bands = 4, bits = 64)
        .orderBy("da", "db")
        .localCheckpoint(true)
    },
    Some("WITH fp AS (SELECT media_id, fp FROM " +
      s"read_parquet('$videoFpDir/*.parquet') " +
      "WHERE kind = 'video' AND fp IS NOT NULL), " +
      "bands AS (SELECT media_id, fp, b, (fp >> (b * 16)) & 65535 AS key " +
      "FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)), " +
      "cand AS (SELECT DISTINCT x.media_id AS da, y.media_id AS db, " +
      "x.fp AS fa, y.fp AS fb FROM bands x JOIN bands y " +
      "ON x.b = y.b AND x.key = y.key AND x.media_id < y.media_id) " +
      "SELECT da, db, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming " +
      "FROM cand WHERE bit_count(xor(fa, fb)) <= 3 ORDER BY da, db"))

  /** `q_gif_dedup`'s extracted-fingerprint publish dir — the
    * [[mediaFpDir]] contract verbatim.
    */
  private val gifFpDir = s"${System.getProperty("java.io.tmpdir")}" +
    s"/graft_gif_fp_${ProcessHandle.current().pid()}"

  /** [EXT] L117f multimodal near-duplicate detection, ANIMATED-GIF
    * column ([[graft.ext.Multimodal.synthesizeGif]] →
    * [[graft.ext.Multimodal.gifFingerprints]] →
    * [[Dedup.simhashHammingPairs]]): REAL animated GIFs decode through
    * the JDK GIF codec (palette resolution, frame COMPOSITING, real
    * per-frame timing — the [[graft.ext.Multimodal.decodeGifFrames]]
    * path `sampleFrames` rides), the first composited frame dHashes to
    * a 64-bit fingerprint, and bands into the shared hamming pair
    * search. Unlike the JPEG keyframe row this roundtrip is LOSSLESS
    * (indexed palette), so the fixture's fingerprints land on their
    * closed-form targets with zero margin needed (MultimodalSpec pins
    * it). The corrupt class (truncated GIF, id%41==3 — a FOURTH
    * distinct id class) and non-gif kinds fingerprint to NULL and are
    * dropped by the declared rule ON BOTH ENGINES over the same
    * Spark-extracted fingerprint table ([[mediaFpDir]]'s contract).
    *
    * Scale posture: identical to the other modality rows — decode is
    * partition-local over opaque payload bytes, the pair search is
    * banded bucket-join cost, 8 bytes/animation leave the decode
    * stage.
    */
  private val qGifDedup = Q("q_gif_dedup",
    (s, d) => {
      val gifs = graft.ext.Multimodal.synthesizeGif(
        t(s, d, "documents").select(col("doc_id")).repartition(decodePar(s)),
        col("doc_id"))
      graft.ops.Staging.deleteTree(gifFpDir)
      graft.ext.Multimodal.gifFingerprints(gifs).toDF()
        .write.parquet(gifFpDir)
      val fps = s.read.parquet(gifFpDir)
        .filter(col("kind") === "gif" && col("fp").isNotNull)
        .select(col("media_id").as("doc_id"), col("fp"))
      Dedup.simhashHammingPairs(fps, maxDist = 3, bands = 4, bits = 64)
        .orderBy("da", "db")
        .localCheckpoint(true)
    },
    Some("WITH fp AS (SELECT media_id, fp FROM " +
      s"read_parquet('$gifFpDir/*.parquet') " +
      "WHERE kind = 'gif' AND fp IS NOT NULL), " +
      "bands AS (SELECT media_id, fp, b, (fp >> (b * 16)) & 65535 AS key " +
      "FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)), " +
      "cand AS (SELECT DISTINCT x.media_id AS da, y.media_id AS db, " +
      "x.fp AS fa, y.fp AS fb FROM bands x JOIN bands y " +
      "ON x.b = y.b AND x.key = y.key AND x.media_id < y.media_id) " +
      "SELECT da, db, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming " +
      "FROM cand WHERE bit_count(xor(fa, fb)) <= 3 ORDER BY da, db"))

  /** `q_crossmodal_dedup`'s extracted-fingerprint publish dir — the
    * [[mediaFpDir]] contract verbatim.
    */
  private val crossFpDir = s"${System.getProperty("java.io.tmpdir")}" +
    s"/graft_cross_fp_${ProcessHandle.current().pid()}"

  /** [EXT] L117g CROSS-MODAL near-duplicate linking: the same content
    * shipped as a still image AND as an animation must link — dHash
    * fingerprints from every visual modality live in ONE hamming
    * space, so "the GIF whose first frame is this thumbnail" is the
    * SAME banded pair search over the union of fingerprint tables,
    * with modality-qualified composite ids (media·4 + kindCode) and a
    * cross-kind filter. The image fixture's PNGs and the GIF
    * fixture's frame-0s realize the same closed-form targets per id,
    * so every id whose payloads are decodable in BOTH modalities
    * yields a (png, gif) pair at hamming 0 and near-dup group
    * siblings link across modalities at ≤3 — while each fixture's
    * OWN corrupt class (image %29==17, gif %41==3) breaks only its
    * side, leaving the other modality's row unlinked: the oracle
    * sees corruption ASYMMETRY, not just pair presence.
    *
    * Scale posture: the union is fingerprint-table-sized (8 bytes ×
    * items per modality), the search stays banded bucket-join cost,
    * and the cross-kind filter is a post-join predicate on the
    * composite id's low bits — no new shuffle class. At 100 TB this
    * is the dedup pass that catches content laundered ACROSS formats.
    */
  private val qCrossmodalDedup = Q("q_crossmodal_dedup",
    (s, d) => {
      val ids = t(s, d, "documents").select(col("doc_id")).repartition(decodePar(s))
      val media = graft.ext.Multimodal.synthesizeMedia(ids, col("doc_id"))
      val gifs = graft.ext.Multimodal.synthesizeGif(ids, col("doc_id"))
      graft.ops.Staging.deleteTree(crossFpDir)
      graft.ext.Multimodal.perceptualFingerprints(media).toDF()
        .unionByName(graft.ext.Multimodal.gifFingerprints(gifs).toDF())
        .write.parquet(crossFpDir)
      val fps = s.read.parquet(crossFpDir)
        .filter(col("kind").isin("image", "gif") && col("fp").isNotNull)
        .select((col("media_id") * 4 +
          when(col("kind") === "image", 0).otherwise(1)).as("doc_id"),
          col("fp"))
      Dedup.simhashHammingPairs(fps, maxDist = 3, bands = 4, bits = 64)
        // keep CROSS-modality links only (same-kind pairs are the
        // q_media_dedup / q_gif_dedup rows' business)
        .filter(pmod(col("da"), lit(4)) =!= pmod(col("db"), lit(4)))
        .select((col("da") / 4).cast("long").as("da"),
          when(pmod(col("da"), lit(4)) === 0, "image").otherwise("gif")
            .as("kind_a"),
          (col("db") / 4).cast("long").as("db"),
          when(pmod(col("db"), lit(4)) === 0, "image").otherwise("gif")
            .as("kind_b"),
          col("hamming"))
        .orderBy("da", "kind_a", "db", "kind_b")
        .localCheckpoint(true)
    },
    Some("WITH fp AS (SELECT media_id * 4 + " +
      "(CASE WHEN kind = 'image' THEN 0 ELSE 1 END) AS cid, fp FROM " +
      s"read_parquet('$crossFpDir/*.parquet') " +
      "WHERE kind IN ('image', 'gif') AND fp IS NOT NULL), " +
      "bands AS (SELECT cid, fp, b, (fp >> (b * 16)) & 65535 AS key " +
      "FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)), " +
      "cand AS (SELECT DISTINCT x.cid AS ca, y.cid AS cb, " +
      "x.fp AS fa, y.fp AS fb FROM bands x JOIN bands y " +
      "ON x.b = y.b AND x.key = y.key AND x.cid < y.cid) " +
      "SELECT ca // 4 AS da, " +
      "CASE WHEN ca % 4 = 0 THEN 'image' ELSE 'gif' END AS kind_a, " +
      "cb // 4 AS db, " +
      "CASE WHEN cb % 4 = 0 THEN 'image' ELSE 'gif' END AS kind_b, " +
      "CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming " +
      "FROM cand WHERE bit_count(xor(fa, fb)) <= 3 " +
      "AND ca % 4 <> cb % 4 " +
      "ORDER BY da, kind_a, db, kind_b"))

  /** `q_video_dedup_multi`'s extracted-fingerprint publish dir — the
    * [[mediaFpDir]] contract verbatim.
    */
  private val videoFrameFpDir = s"${System.getProperty("java.io.tmpdir")}" +
    s"/graft_video_frame_fp_${ProcessHandle.current().pid()}"

  /** [EXT] L117c multi-keyframe video near-duplicate detection
    * ([[graft.ext.Multimodal.videoFrameFingerprints]] → composite-id
    * [[Dedup.simhashHammingPairs]] → min-hamming per video pair):
    * EVERY demuxed keyframe decodes and dHashes — one fingerprint row
    * per (video, keyframe) — and a video pair links when ANY frame of
    * one is within hamming ≤ 3 of ANY frame of the other (reported
    * hamming = the best matching frame pair). This closes the class
    * `q_video_dedup`'s keyframe-0 pass is structurally blind to: a
    * re-encoded or TRIMMED duplicate whose first keyframe differs but
    * whose later content matches (the fixture's id%37==13 class is
    * built to be exactly that — invisible at keyframe-0,
    * group-linked at keyframe-1; MultimodalSpec pins both facts). The
    * any-match collapse rides the SAME banded pair search via
    * composite (media·4 + frame) ids — frames of one video never pair
    * with each other (same composite prefix ⇒ dropped by the
    * video-level da < db), and the min() is over exact bit_count
    * values, deterministic at any parallelism.
    *
    * Scale posture: identical to the keyframe-0 row except the
    * fingerprint table grows to keyframes/item rows (8 bytes each) —
    * still the GB-scale reduction of a 100 TB lake; the pair search
    * stays banded bucket-join cost.
    */
  private val qVideoDedupMulti = Q("q_video_dedup_multi",
    (s, d) => {
      val vids = graft.ext.Multimodal.synthesizeVideo(
        t(s, d, "documents").select(col("doc_id")).repartition(decodePar(s)),
        col("doc_id"))
      graft.ops.Staging.deleteTree(videoFrameFpDir)
      graft.ext.Multimodal.videoFrameFingerprints(vids).toDF()
        .write.parquet(videoFrameFpDir)
      val fps = s.read.parquet(videoFrameFpDir)
        .filter(col("kind") === "video" && col("fp").isNotNull)
        .select((col("media_id") * 4 + col("frame_idx")).as("doc_id"),
          col("fp"))
      Dedup.simhashHammingPairs(fps, maxDist = 3, bands = 4, bits = 64)
        .select((col("da") / 4).cast("long").as("da"),
          (col("db") / 4).cast("long").as("db"), col("hamming"))
        .filter(col("da") < col("db"))
        .groupBy("da", "db").agg(min("hamming").as("hamming"))
        .orderBy("da", "db")
        .localCheckpoint(true)
    },
    Some("WITH fp AS (SELECT media_id, frame_idx, fp FROM " +
      s"read_parquet('$videoFrameFpDir/*.parquet') " +
      "WHERE kind = 'video' AND fp IS NOT NULL), " +
      "bands AS (SELECT media_id, frame_idx, fp, b, " +
      "(fp >> (b * 16)) & 65535 AS key " +
      "FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)), " +
      "cand AS (SELECT DISTINCT x.media_id AS da, x.frame_idx AS fa_i, " +
      "y.media_id AS db, y.frame_idx AS fb_i, x.fp AS fa, y.fp AS fb " +
      "FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key " +
      "AND x.media_id < y.media_id) " +
      "SELECT da, db, CAST(min(bit_count(xor(fa, fb))) AS BIGINT) " +
      "AS hamming FROM cand WHERE bit_count(xor(fa, fb)) <= 3 " +
      "GROUP BY da, db ORDER BY da, db"))

  /** `q_media_dedup_refresh`'s extracted-fingerprint publish dir —
    * the [[mediaFpDir]] contract verbatim (pid-qualified, one live
    * fixture per evaluation, oracle SQL reads the same written bytes).
    */
  private val mediaRefreshFpDir = s"${System.getProperty("java.io.tmpdir")}" +
    s"/graft_media_refresh_fp_${ProcessHandle.current().pid()}"

  /** [EXT] L114+L117 durable perceptual-fingerprint dedup lifecycle
    * ([[graft.ext.HammingIndex]] maintained by
    * [[graft.streaming.StreamingHamming]]): the image fixture's
    * DECODED fingerprints (the `q_media_dedup` chain over the
    * doc_id%4==0 quarter slice) processed as THREE id-disjoint ingest
    * batches through the stored artifact — build(b1) → commit →
    * read → refresh(b2) → incremental commit → refresh(b3) → commit +
    * AUTO-COMPACT (`compactEvery = 2` forces the segment fold under
    * this hash) — and the accumulated pair table SERVED FROM THE
    * COMMITTED INDEX must equal the full-slice banded hamming
    * fixpoint, replayed by DuckDB over the same published fingerprint
    * bytes. The `q_dedup_refresh` / `q_novelty_refresh` gate applied
    * to the fourth durable artifact: batching, the versioned
    * write/read round trip, the writer lease, the replay guard, and
    * compaction must all be invisible. Runs over the quarter slice
    * (the `q_dedup_refresh` rule): this row gates the refresh path +
    * lifecycle; the full-fixture decode and pair enumeration are
    * already priced by `q_media_dedup`.
    *
    * Scale posture: day-2 cost follows the batch — each fold pays the
    * batch's banded self-pairs plus one bucket-colocated probe per
    * stored segment (exchange-free on the corpus side,
    * HammingIndexSpec pins the plan), commits carry batch-sized
    * segments plus the batch's TRUE new pairs, and auto-compaction
    * amortizes the corpus rewrite to ~1/threshold per batch — the
    * 100 TB media lake's incremental dedup never re-enumerates.
    */
  private val qMediaDedupRefresh = Q("q_media_dedup_refresh",
    (s, d) => {
      // the q_media_dedup decode chain, quarter slice, ids spread
      // BEFORE synthesis so decode runs at cluster parallelism
      val media = graft.ext.Multimodal.synthesizeMedia(
        t(s, d, "documents").select(col("doc_id"))
          .filter(col("doc_id") % 4 === 0).repartition(decodePar(s)),
        col("doc_id"))
      graft.ops.Staging.deleteTree(mediaRefreshFpDir)
      graft.ext.Multimodal.perceptualFingerprints(media).toDF()
        .write.parquet(mediaRefreshFpDir)
      val fps = s.read.parquet(mediaRefreshFpDir)
        .filter(col("kind") === "image" && col("fp").isNotNull)
        .select(col("media_id").as("doc_id"), col("fp"))
      // pid- and fixture-qualified tmp artifact (the q_novelty_refresh
      // rule): reruns rebuild deterministically, concurrent harnesses
      // never share a dir
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_qhamr_" +
        s"${ProcessHandle.current().pid()}_${Integer.toHexString(d.hashCode)}"
      graft.ops.Staging.deleteTree(dir)
      // three id-disjoint batches through the streaming maintainer's
      // OWN fold (writer lease + replay guard + auto-compaction
      // included); compactEvery=2 makes batch 2 a compaction trigger
      (0L to 2L).foreach { i =>
        graft.streaming.StreamingHamming.foldBatch(
          fps.filter(col("doc_id") % 12 === i * 4), dir, batchId = i,
          maxDist = 3, bands = 4, bits = 64, buckets = 8,
          compactEvery = 2)
      }
      // eager (the q_media_dedup rule): the shared fingerprint table
      // and the artifact are rewritten by the next evaluation
      graft.ext.HammingIndex.read(s, dir).pairs
        .orderBy("da", "db")
        .localCheckpoint(true)
    },
    Some("WITH fp AS (SELECT media_id, fp FROM " +
      s"read_parquet('$mediaRefreshFpDir/*.parquet') " +
      "WHERE kind = 'image' AND fp IS NOT NULL), " +
      "bands AS (SELECT media_id, fp, b, (fp >> (b * 16)) & 65535 AS key " +
      "FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)), " +
      "cand AS (SELECT DISTINCT x.media_id AS da, y.media_id AS db, " +
      "x.fp AS fa, y.fp AS fb FROM bands x JOIN bands y " +
      "ON x.b = y.b AND x.key = y.key AND x.media_id < y.media_id) " +
      "SELECT da, db, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming " +
      "FROM cand WHERE bit_count(xor(fa, fb)) <= 3 ORDER BY da, db"))

  /** [EXT] L78 PQ recall evaluation: recall@5 of the ADC ranking
    * against exact brute-force cosine truth, per query — the
    * compression-loss dial for [[qAnnPq]]'s m/subDim choice, the same
    * harness shape as `q_ann_recall` (IVF) and `q_lsh_recall`
    * (MinHash bands). Truth pays the deliberate exact enumeration the
    * eval grades against.
    */
  private val qPqRecall = Q("q_pq_recall",
    (s, d) => {
      val (m, subDim) = (4, 16)
      val n = embNorm(s, d)
      val queries = n.filter(col("vec_id").isin(1, 2, 3, 4))
      val truth = Similarity.bruteForceTopK(queries, n, k = 5)
        .select(col("qid"), col("vec_id"))
      val cent = Similarity.pqTrain(n, m, subDim).localCheckpoint(false)
      val codes = Similarity.pqAssign(
        Similarity.pqSubvectors(n, m, subDim), cent)
        .select(col("vec_id"), col("s"), col("cid"))
      val approx = Similarity.pqSearch(queries, cent, codes, m, subDim,
          k = 5)
        .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
      truth.join(approx, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("found"))
        .select(col("qid"), col("k"), col("found"),
          (col("found").cast("double") / col("k")).as("recall"))
        .orderBy("qid")
    },
    Some(duckPqCtes("q.vec_id IN (1, 2, 3, 4)") + ", " +
      "tr AS (SELECT qid, vec_id FROM (SELECT a.vec_id AS qid, b.vec_id, " +
      "row_number() OVER (PARTITION BY a.vec_id ORDER BY " +
      "list_dot_product(a.v, b.v) / (a.nm * b.nm) DESC, b.vec_id) AS rnk " +
      "FROM n a JOIN n b ON a.vec_id IN (1, 2, 3, 4) " +
      "AND b.vec_id <> a.vec_id) WHERE rnk <= 5), " +
      "ap AS (SELECT qid, vec_id, 1 AS hit FROM r WHERE rnk <= 5) " +
      "SELECT tr.qid, CAST(count(*) AS BIGINT) AS k, " +
      "CAST(sum(COALESCE(ap.hit, 0)) AS BIGINT) AS found, " +
      "CAST(sum(COALESCE(ap.hit, 0)) AS DOUBLE) / count(*) AS recall " +
      "FROM tr LEFT JOIN ap ON tr.qid = ap.qid AND tr.vec_id = ap.vec_id " +
      "GROUP BY tr.qid ORDER BY tr.qid"))

  /** [EXT] L80 leakage-safe split ([[Sampling.leakageSafeSplit]]):
    * holdout assignment by NEAR-DUP CLUSTER, not by document — no
    * near-duplicate pair can straddle train/eval (the silent
    * eval-inflation mode the dedup literature measures). Cluster
    * members share the cluster id as split key; singletons key on
    * themselves; then the deterministic hash banding of q_train_split.
    * One contraction + one doc-keyed join; the split itself is the
    * zero-shuffle hash projection. Oracle replays the recursive-CTE
    * clustering and the same banding.
    */
  private val qLeakageSafeSplit = Q("q_leakage_safe_split",
    (s, d) => Sampling.leakageSafeSplit(
        t(s, d, "documents"), col("doc_id"),
        Dedup.connectedComponents(Dedup.ngramJaccardPairs(
          t(s, d, "documents"), col("text"), col("doc_id"),
          n = 3, threshold = 0.5)),
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split_key", "split")
      .orderBy("doc_id"),
    Some("WITH RECURSIVE " + duckJaccardCtes + ", " +
      "edges AS (SELECT da AS src, db AS dst FROM jpairs " +
      "UNION ALL SELECT db, da FROM jpairs), " +
      "reach(node, lab) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node), " +
      "cl AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node), " +
      "j AS (SELECT d.doc_id, CAST(COALESCE(cl.cluster_id, d.doc_id) " +
      "AS BIGINT) AS split_key FROM documents d " +
      "LEFT JOIN cl ON d.doc_id = cl.node), " +
      "h AS (SELECT doc_id, split_key, " +
      TextHash.duckBaseHash("CAST(split_key AS VARCHAR)") +
      " % 10000 AS hb FROM j) " +
      "SELECT doc_id, split_key, CASE WHEN hb < 8000 THEN 'train' " +
      "WHEN hb < 9000 THEN 'val' ELSE 'test' END AS split FROM h " +
      "ORDER BY doc_id"))

  /** [EXT] L76 semantic decontamination
    * ([[Similarity.semanticScreen]]): flag corpus vectors whose nearest
    * eval-set vector sits at cosine >= 0.3 and report the offender —
    * the embedding-based complement of the exact-13-gram and Bloom
    * decontamination screens (paraphrased leakage passes a token
    * screen; it does not pass this one). Eval set = vec_id % 50 == 1
    * (the driver tables carry no separate eval corpus). Eval frame
    * broadcasts; corpus streams through one scan; per-vector argmax is
    * a WindowGroupLimit. Oracle replays the argmax + threshold.
    */
  private val qSemanticDecontaminate = Q("q_semantic_decontaminate",
    (s, d) => {
      val n = embNorm(s, d)
      Similarity.semanticScreen(n, n.filter(col("vec_id") % 50 === 1),
          threshold = 0.3, excludeSameId = true)
        .select(col("vec_id"), col("eid"), round(col("cos"), 4).as("cos"))
        .orderBy("vec_id")
    },
    Some(duckNormCte + ", " +
      "ev AS (SELECT vec_id AS eid, v AS evv, nm AS enm FROM n " +
      "WHERE vec_id % 50 = 1), " +
      "s AS (SELECT c.vec_id, e.eid, " +
      "list_dot_product(c.v, e.evv) / (c.nm * e.enm) AS cos " +
      "FROM n c JOIN ev e ON c.vec_id <> e.eid), " +
      "r AS (SELECT vec_id, eid, cos, row_number() OVER (" +
      "PARTITION BY vec_id ORDER BY cos DESC, eid) AS rnk FROM s) " +
      "SELECT vec_id, eid, round(cos, 4) AS cos FROM r " +
      "WHERE rnk = 1 AND cos >= 0.3 ORDER BY vec_id"))

  /** [EXT] L75 BPE tokenizer training ([[TextAnalysis.bpeTrain]]):
    * learn the top-k symbol-pair merges (Sennrich byte-pair encoding)
    * as ONE declarative plan — corpus touched once for the
    * word-frequency table, then every iteration (pair count → argmax →
    * merge-apply) runs over the vocabulary only, with the argmax
    * staying in-plan as a 1-row TakeOrderedAndProject broadcast.
    * Deterministic tie-break (count desc, pair asc); the oracle
    * replays all four iterations as a generated CTE chain.
    */
  /** Shared BPE-training CTE chain (word frequencies → char split →
    * k iterations of pair-count/argmax/merge-apply): exposes b1..bk
    * (per-step merges) and s&lt;k&gt; (final vocabulary state) — used
    * by `q_bpe_train` and `q_bpe_apply`.
    */
  private def duckBpeCtes(k: Int): String = {
    // two-space symbol separators (see TextAnalysis.bpeFold): the merge
    // pattern ' x  y ' consumes one delimiter space from each side's
    // own pair, so literal replace is exact list-scan BPE application
    val syms = "string_split(trim(enc), '  ')"
    val pairsOf = s"list_transform(generate_series(1, len($syms) - 1), " +
      s"i -> $syms[i] || ' ' || $syms[i + 1])"
    val head = "WITH wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
      "GROUP BY w), " +
      "s0 AS (SELECT w, f, ' ' || regexp_replace(w, '(.)', '\\1  ', 'g') " +
      "AS enc FROM wf)"
    val iters = (1 to k).map { i =>
      s"p$i AS (SELECT p, CAST(sum(f) AS BIGINT) AS score " +
        s"FROM (SELECT f, unnest($pairsOf) AS p FROM s${i - 1}) " +
        "GROUP BY p), " +
        s"b$i AS (SELECT CAST($i AS BIGINT) AS step, p AS pair, " +
        "replace(p, ' ', '') AS merged, score " +
        "FROM p" + i + " ORDER BY score DESC, p ASC LIMIT 1), " +
        // exhausted steps coalesce to search ' ' -> replace ' ': a
        // guaranteed no-op, mirroring the Spark-side fallback exactly
        s"s$i AS (SELECT w, f, replace(enc, " +
        s"COALESCE(' ' || replace((SELECT pair FROM b$i), ' ', '  ') " +
        "|| ' ', ' '), " +
        s"COALESCE(' ' || (SELECT merged FROM b$i) || ' ', ' ')) " +
        s"AS enc FROM s${i - 1})"
    }.mkString(", ")
    head + ", " + iters
  }

  private val qBpeTrain = Q("q_bpe_train",
    (s, d) => TextAnalysis.bpeTrain(t(s, d, "documents"), col("text"), k = 4),
    Some(duckBpeCtes(4) + " " +
      (1 to 4).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ") +
      " ORDER BY step"))

  /** [EXT] L79 BPE corpus encoding ([[TextAnalysis.bpeEncodeCounts]]):
    * per-doc whitespace vs post-merge subword counts under the
    * tokenizer `q_bpe_train` just learned — the budget estimator a
    * packing decision should actually use (the regex "BPE-ish" counter
    * approximates; this IS the trained tokenizer's length). The final
    * training state already encodes every distinct word, so
    * application is one broadcast join of corpus words against the
    * vocabulary-sized table; character level is never revisited.
    */
  private val qBpeApply = Q("q_bpe_apply",
    (s, d) => TextAnalysis.bpeEncodeCounts(
        t(s, d, "documents"), col("text"), col("doc_id"), k = 4)
      .orderBy("doc_id"),
    Some(duckBpeCtes(4) + ", " +
      "vocab AS (SELECT w, CAST(len(string_split(trim(enc), '  ')) " +
      "AS BIGINT) AS pieces FROM s4), " +
      "dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
      "FROM documents) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, " +
      "CAST(sum(pieces) AS BIGINT) AS n_bpe FROM dt JOIN vocab USING (w) " +
      "GROUP BY doc_id ORDER BY doc_id"))

  /** [EXT] L81 incremental novelty
    * ([[TextAnalysis.noveltyRateIncremental]]): novelty of one new
    * ingest batch (doc_id >= 250) against the seen-shingle index of
    * the earlier corpus — the production shape for daily snapshots (a
    * foreachBatch maintains the index). Id-ordered batches reproduce
    * full-corpus q_ngram_novelty exactly (property-tested); the only
    * addition is one anti-join on the 8-byte shingle hash, bucketable
    * at scale. Oracle replays index, election, and anti-join.
    */
  private val qNoveltyIncremental = Q("q_novelty_incremental",
    (s, d) => {
      val docs = t(s, d, "documents")
      val seen = docs.filter(col("doc_id") < 250)
        .select(explode(array_distinct(
          graft.functions.HashFunctions.shingleHash48(col("text"), 3)))
          .as("sh"))
        .distinct()
      TextAnalysis.noveltyRateIncremental(
          docs.filter(col("doc_id") >= 250), col("text"), col("doc_id"),
          n = 3, seen)
        .orderBy("doc_id")
    },
    Some {
      val hashed = "unnest(list_distinct(list_transform(" +
        TextHash.duckShingles("text", 3) + ", s -> " +
        TextHash.duckBaseHash("s") + ")))"
      s"WITH seen AS (SELECT DISTINCT $hashed AS sh FROM documents " +
        "WHERE doc_id < 250), " +
        s"ex AS (SELECT doc_id, $hashed AS sh FROM documents " +
        "WHERE doc_id >= 250), " +
        "base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles " +
        "FROM ex GROUP BY doc_id), " +
        "f AS (SELECT sh, min(doc_id) AS doc_id FROM ex GROUP BY sh), " +
        "nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel " +
        "FROM f WHERE sh NOT IN (SELECT sh FROM seen) GROUP BY doc_id) " +
        "SELECT b.doc_id, b.n_shingles, " +
        "CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel, " +
        "CAST(floor(COALESCE(nv.n_novel, 0) * 10000 / b.n_shingles) " +
        "AS BIGINT) AS novelty_bps " +
        "FROM base b LEFT JOIN nv USING (doc_id) ORDER BY doc_id"
    })

  /** [EXT] L73 linear quality-classifier margin
    * ([[TextAnalysis.qualityLogit]]): fixed-weight four-feature linear
    * model (length, function-word density, bigram repetition,
    * word-length deviation) emitting the raw margin and the keep/drop
    * decision — the deployment half of the fastText/CCNet quality
    * filter; a trained model swaps the constants, the plan is
    * identical. Margin is exact BIGINT bps end-to-end, so the decision
    * boundary cannot flip between engines. Pure per-row projection,
    * zero shuffle at any corpus size.
    */
  /** DuckDB twin of the [[TextAnalysis.qualityLogit]] margin — ONE
    * definition shared by q_quality_logit and q_calibration (a weight
    * recalibration must hit both oracles at once).
    */
  private val duckLogitMargin: String = {
    val grams2 = TextHash.duckShingles("text", 2)
    val lenBps = s"least(5000, $duckNTok * 25)"
    val stopBps =
      s"least(5000, CAST(floor($duckStop * 50000 / $duckNTok) AS BIGINT))"
    val repBps = s"(CASE WHEN len($grams2) > 0 THEN 10000 - " +
      s"CAST(floor(len(list_distinct($grams2)) * 10000 / len($grams2)) " +
      "AS BIGINT) ELSE 0 END)"
    val wdevMil = s"CAST(floor(abs((length(text) - $duckNTok + 1) * 10 " +
      s"- $duckNTok * 45) * 100 / $duckNTok) AS BIGINT)"
    s"$lenBps * 2 + $stopBps * 3 - $repBps * 4 - $wdevMil - 8000"
  }

  private val qQualityLogit = Q("q_quality_logit",
    (s, d) => {
      val (margin, label) = TextAnalysis.qualityLogit(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        margin.as("margin"), label.as("label"))
        .orderBy("doc_id")
    },
    Some(s"SELECT doc_id, CAST($duckLogitMargin AS BIGINT) AS margin, " +
      s"CASE WHEN $duckLogitMargin >= 0 THEN 'keep' ELSE 'drop' END " +
      "AS label FROM documents ORDER BY doc_id"))

  /** [EXT] L101 calibration / reliability table: the q_quality_logit
    * margin read as a probability (σ(margin/1e4), µ-quantized) binned
    * into deciles against a GOLD label (the exact quality-bps rule at
    * ≥ 7500) — per bin, docs, mean predicted probability, and the
    * empirical keep rate. A well-calibrated classifier has
    * mean_p_micro ≈ keep_bps·100 per bin; the divergence pattern is
    * what decides whether the cheap filter's threshold can be trusted
    * before running it over a full crawl. All bin arithmetic exact
    * BIGINT (floor-division means); one per-row projection + a
    * 10-cell aggregate, nothing corpus-global.
    */
  private val qCalibration = Q("q_calibration",
    (s, d) => {
      val (margin, _) = TextAnalysis.qualityLogit(col("text"))
      t(s, d, "documents")
        .select(
          floor((lit(1.0) / (lit(1.0) +
              exp(-(margin.cast("double") / lit(10000.0))))) *
            1000000.0 + 0.5).cast("long").as("pq"),
          (TextAnalysis.qualityBps(col("text")) >= 7500).cast("long")
            .as("y"))
        .select(least(lit(9L), expr("pq DIV 100000")).as("bin"),
          col("pq"), col("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("pq").as("sp"), sum("y").as("sy"))
        .select(col("bin"), col("n"),
          expr("CAST(sp DIV n AS BIGINT)").as("mean_p_micro"),
          floor(col("sy") * lit(10000L) / col("n")).cast("long")
            .as("keep_bps"))
        .orderBy("bin")
    },
    Some("WITH b AS (SELECT CAST(floor((1.0 / (1.0 + " +
      s"exp(-(CAST($duckLogitMargin AS DOUBLE) / 10000.0)))) " +
      "* 1000000.0 + 0.5) AS BIGINT) AS pq, " +
      s"CAST(($duckQbps) >= 7500 AS BIGINT) AS y FROM documents), " +
      "g AS (SELECT least(9, pq // 100000) AS bin, " +
      "CAST(count(*) AS BIGINT) AS n, CAST(sum(pq) AS BIGINT) AS sp, " +
      "CAST(sum(y) AS BIGINT) AS sy FROM b GROUP BY 1) " +
      "SELECT CAST(bin AS BIGINT) AS bin, n, " +
      "CAST(sp // n AS BIGINT) AS mean_p_micro, " +
      "CAST(floor(sy * 10000 / n) AS BIGINT) AS keep_bps " +
      "FROM g ORDER BY bin"))

  /** [EXT] L67 dup-cluster size distribution: histogram of near-dup
    * cluster sizes plus the doc mass per size — the FIRST QA table
    * after any dedup run ("how much of the corpus sits in pairs vs
    * giant boilerplate blobs"); a fat tail here says raise the
    * threshold or cap the bucket, before survivors are even elected.
    * Rides one contraction; the histogram aggregates the cluster
    * table (pair-graph-sized), never the corpus.
    */
  private val qClusterSizes = Q("q_cluster_sizes",
    (s, d) => {
      val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), col("text"),
          col("doc_id"), n = 3, threshold = 0.5))
      clusters.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .select(col("sz"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs"))
        .orderBy("sz")
    },
    Some("WITH RECURSIVE " + duckJaccardCtes + ", " +
      "edges AS (SELECT da AS src, db AS dst FROM jpairs " +
      "UNION ALL SELECT db, da FROM jpairs), " +
      "reach(node, lab) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node), " +
      "clusters AS (SELECT node, min(lab) AS cluster_id FROM reach " +
      "GROUP BY node), " +
      "cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz " +
      "FROM clusters GROUP BY cluster_id) " +
      "SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters, " +
      "CAST(sz * count(*) AS BIGINT) AS n_docs FROM cs GROUP BY sz " +
      "ORDER BY sz"))

  /** [EXT] L82 NDCG@10 retrieval eval ([[Similarity.ndcgAt]]): the
    * rank-WEIGHTED companion to q_ann_recall — recall@k treats rank 1
    * and rank k alike, NDCG pays log-discounted credit, so an index
    * that finds the right vectors in the wrong ORDER scores lower.
    * Truth = brute-force cosine top-10 (positional gains 11−r);
    * approx = the IVF ranking. Discounts are integer micro-credits
    * precomputed driver-side and generated verbatim into the oracle
    * CASE (no engine evaluates its own log2), so DCG sums are exact
    * BIGINT; the truth side deliberately pays the exact enumeration —
    * the eval-harness cost class (cf. q_lsh_recall / q_pq_recall).
    */
  /** Shared retrieval-eval oracle chain (n / tr truth / cent / asg /
    * q / ap approx CTEs, queries 1-4, k = 10) — ONE definition
    * consumed by q_ndcg and q_mrr (both score the same IVF search
    * against the same brute-force truth).
    */
  private val duckRetrievalCtes: String =
    duckNormCte + ", " +
      "tr AS (SELECT qid, vec_id, 11 - rnk AS gain, rnk FROM " +
      "(SELECT a.vec_id AS qid, b.vec_id, " +
      "row_number() OVER (PARTITION BY a.vec_id ORDER BY " +
      "list_dot_product(a.v, b.v) / (a.nm * b.nm) DESC, b.vec_id) AS rnk " +
      "FROM n a JOIN n b ON a.vec_id IN (1, 2, 3, 4) " +
      "AND b.vec_id <> a.vec_id) WHERE rnk <= 10), " +
      "cent AS (SELECT * FROM n WHERE vec_id % 100 = 0), " +
      "asg AS (SELECT vec_id, v, nm, cid FROM (" +
      "SELECT n.vec_id, n.v, n.nm, c.vec_id AS cid, row_number() OVER (" +
      "PARTITION BY n.vec_id ORDER BY " +
      "list_dot_product(n.v, c.v) / (n.nm * c.nm) DESC, c.vec_id) AS rn " +
      "FROM n CROSS JOIN cent c) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS qid, v AS qv, nm AS qn, cid FROM asg " +
      "WHERE vec_id IN (1, 2, 3, 4)), " +
      "ap AS (SELECT qid, vec_id, rnk AS p FROM (SELECT q.qid, a.vec_id, " +
      "row_number() OVER (PARTITION BY q.qid ORDER BY " +
      "list_dot_product(q.qv, a.v) / (q.qn * a.nm) DESC, a.vec_id) AS rnk " +
      "FROM asg a JOIN q ON a.cid = q.cid AND a.vec_id <> q.qid) " +
      "WHERE rnk <= 10)"

  private val qNdcg = Q("q_ndcg",
    (s, d) => {
      val n = embNorm(s, d)
      val queries = n.filter(col("vec_id").isin(1, 2, 3, 4))
      val truth = Similarity.bruteForceTopK(queries, n, k = 10)
      val approx = Similarity.ivfTopK(corpus = n,
        centroids = n.filter(col("vec_id") % 100 === 0),
        queries = queries, k = 10)
      Similarity.ndcgAt(truth, approx, k = 10).orderBy("qid")
    },
    Some {
      val discCase = "CASE ap.p " +
        Similarity.ndcgDiscountMicro(10).zipWithIndex
          .map { case (dm, i) => s"WHEN ${i + 1} THEN $dm" }
          .mkString(" ") + " ELSE 0 END"
      val dcg = s"sum(coalesce(tr.gain, 0) * ($discCase))"
      duckRetrievalCtes +
        s" SELECT ap.qid, CAST($dcg AS BIGINT) AS dcg_micro, " +
        s"round(CAST($dcg AS DOUBLE) / ${Similarity.ndcgIdealMicro(10)}.0, " +
        "4) AS ndcg " +
        "FROM ap LEFT JOIN tr ON ap.qid = tr.qid AND ap.vec_id = tr.vec_id " +
        "GROUP BY ap.qid ORDER BY ap.qid"
    })

  /** [EXT] L111 mean reciprocal rank ([[Similarity.mrrAt]]): where the
    * TRUE nearest neighbor landed in the IVF list — truth_rank (0 =
    * missed) and 1/rank in exact µ-units (integer floor division;
    * 1/3 is not a finite double). Complements q_ndcg's graded-list
    * view: an index can score decent NDCG while burying the single
    * best hit. Same truth enumeration, one |queries|-sized join; the
    * oracle shares q_ndcg's retrieval CTE chain.
    */
  private val qMrr = Q("q_mrr",
    (s, d) => {
      val n = embNorm(s, d)
      val queries = n.filter(col("vec_id").isin(1, 2, 3, 4))
      val truth = Similarity.bruteForceTopK(queries, n, k = 10)
      val approx = Similarity.ivfTopK(corpus = n,
        centroids = n.filter(col("vec_id") % 100 === 0),
        queries = queries, k = 10)
      Similarity.mrrAt(truth, approx).orderBy("qid")
    },
    Some(duckRetrievalCtes + ", " +
      "t1 AS (SELECT qid, vec_id FROM tr WHERE rnk = 1) " +
      "SELECT t1.qid, CAST(coalesce(ap.p, 0) AS BIGINT) AS truth_rank, " +
      "CAST(CASE WHEN ap.p IS NULL THEN 0 ELSE 1000000 // ap.p END " +
      "AS BIGINT) AS rr_micro FROM t1 LEFT JOIN ap " +
      "ON t1.qid = ap.qid AND t1.vec_id = ap.vec_id ORDER BY t1.qid"))

  /** [EXT] L83 Zipf-law fit ([[TextAnalysis.zipfFit]]): OLS slope of
    * ln(freq) vs ln(rank) over the top-500 vocabulary — natural text
    * sits near −1; template/boilerplate corpora flatten or step the
    * line, so the slope is a one-row corpus-health dial next to the
    * Heaps-law growth curve (q_vocab_growth). Coordinates quantize to
    * micro-nat BIGINT so the regression moments are exact integer
    * sums (the q_regr_fit contract); the top-K cut is a
    * TakeOrderedAndProject, never a global sort.
    */
  private val qZipfFit = Q("q_zipf_fit",
    (s, d) => TextAnalysis.zipfFit(t(s, d, "documents"), col("text"),
      topK = 500),
    Some("WITH tf AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS n " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents) " +
      "GROUP BY t), " +
      "rk AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, term) " +
      "AS BIGINT) AS r, n FROM tf ORDER BY n DESC, term LIMIT 500), " +
      "pts AS (SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) " +
      "AS BIGINT) AS x, CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) " +
      "AS BIGINT) AS y FROM rk), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
      "CAST(sum(x * x) AS BIGINT) AS sxx, " +
      "CAST(sum(x * y) AS BIGINT) AS sxy, " +
      "CAST(sum(y * y) AS BIGINT) AS syy FROM pts), " +
      "md AS (SELECT n, CAST(n AS DOUBLE) AS nd, " +
      "CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd, " +
      "CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd, " +
      "CAST(syy AS DOUBLE) AS syyd FROM m) " +
      "SELECT n, " +
      "round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 4) " +
      "AS slope, " +
      "round((syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) " +
      "* sxd) / nd, 4) AS intercept, " +
      "round((nd * sxyd - sxd * syd) / (sqrt(nd * sxxd - sxd * sxd) * " +
      "sqrt(nd * syyd - syd * syd)), 4) AS r FROM md"))

  /** [EXT] L84 perplexity bucketing
    * ([[TextAnalysis.perplexityBuckets]]): the CCNet release step on
    * top of q_unigram_lm's scores — cut the corpus into head / middle
    * / tail thirds at exact nearest-rank cross-entropy thresholds and
    * report the per-(source, bucket) mix ("which domains does the
    * noisy tail eat"). Thresholds ride the bounded-domain MILLI-bit
    * histogram (domain-sized at any corpus scale; µbit resolution
    * would make it corpus-sized) and broadcast back; means stay exact
    * µbit BIGINT. Oracle re-derives the LM from the shared CTEs and
    * replays the identical cut.
    */
  private val qPerplexityBucket = Q("q_perplexity_bucket",
    (s, d) => TextAnalysis.perplexityBuckets(t(s, d, "documents"),
        col("text"), col("doc_id"), col("source"))
      .orderBy("source", "bucket"),
    Some("WITH " + duckUnigramCtes + ", " +
      "sc AS (SELECT doc_id, CAST(cost // n_tok AS BIGINT) AS bits_micro, " +
      "CAST((cost // n_tok) // 1000 AS BIGINT) AS bits_milli FROM c), " +
      "h AS (SELECT bits_milli AS v, count(*) AS cg FROM sc GROUP BY v), " +
      "cw AS (SELECT v, sum(cg) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND CURRENT ROW) AS cf, sum(cg) OVER () AS n FROM h), " +
      "thr AS (SELECT " +
      "min(CASE WHEN cf >= ceil(n * CAST(" +
      s"${TextAnalysis.PerplexityHeadP} AS DOUBLE)) THEN v END) AS t1, " +
      "min(CASE WHEN cf >= ceil(n * CAST(" +
      s"${TextAnalysis.PerplexityMiddleP} AS DOUBLE)) THEN v END) AS t2 " +
      "FROM cw), " +
      "b AS (SELECT d.source, CASE WHEN sc.bits_milli <= thr.t1 " +
      "THEN 'head' WHEN sc.bits_milli <= thr.t2 THEN 'middle' " +
      "ELSE 'tail' END AS bucket, sc.bits_micro " +
      "FROM sc JOIN documents d USING (doc_id), thr) " +
      "SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(bits_micro) // count(*) AS BIGINT) AS mean_bits_micro " +
      "FROM b GROUP BY source, bucket ORDER BY source NULLS FIRST, bucket"))

  /** [EXT] L85 Johnson–Lindenstrauss sign projection
    * ([[Similarity.signProject]]): reduce 64-float embeddings to 8
    * dense double components via the deterministic ±1 md5-parity sign
    * matrix — the dimensionality-REDUCTION half of the sign-LSH story
    * (q_embed_lsh keeps only each component's SIGN bit to bucket;
    * this keeps the value, JL-preserving pairwise distances for
    * coarse clustering and cheap pre-filters on 8× smaller vectors).
    * Pure zero-shuffle projection; the sign matrix folds into the
    * expression tree (never a join), and the oracle spells the SAME
    * left-to-right ±-term chain so the double sums are bit-identical.
    */
  private val qJlProject = Q("q_jl_project",
    (s, d) => Similarity.signProject(t(s, d, "embeddings"),
        col("vec_id"), col("embedding"), inDim = 64)
      .orderBy("vec_id"),
    Some {
      val signs = Similarity.jlSigns(64)
      val exprs = (0 until Similarity.JlOutDim).map { k =>
        val chain = (0 until 64).map { j =>
          val term = s"CAST(embedding[${j + 1}] AS DOUBLE)"
          if (j == 0) { if (signs(k)(j) > 0) term else s"- $term" }
          else { if (signs(k)(j) > 0) s"+ $term" else s"- $term" }
        }.mkString(" ")
        // + 0.0 folds IEEE −0.0 to +0.0 (mirrored in signProject)
        s"round($chain, 4) + 0.0 AS p$k"
      }
      s"SELECT vec_id, ${exprs.mkString(", ")} FROM embeddings " +
        s"WHERE $duckEmbValid AND len(embedding) = 64 ORDER BY vec_id"
    })

  /** [EXT] L86 tokenizer fertility per source
    * ([[TextAnalysis.wordpieceFertility]]): subword pieces per
    * whitespace word under the wordpiece vocabulary — the
    * tokenizer-quality dial that prices each domain in ACTUAL subword
    * tokens (fertility 1.0 = fully in-vocabulary; high fertility
    * marks domains the tokenizer fragments, inflating their token
    * budget). Exact µ-unit ratio over BIGINT sums; kernel projection
    * per row, shuffles only the doc-keyed source join + source-sized
    * aggregate. Oracle replays the shared segmentation CTEs grouped
    * by source.
    */
  private val qTokenizerFertility = Q("q_tokenizer_fertility",
    (s, d) => TextAnalysis.wordpieceFertility(t(s, d, "documents"),
        col("text"), col("doc_id"), col("source"))
      .orderBy("source"),
    Some(duckWordpieceCtes + ", " +
      "f AS (SELECT d.source, o.n_tok, " +
      "CAST(len(string_split(o.wp_text, ' ')) AS BIGINT) AS n_wp " +
      "FROM o JOIN documents d USING (doc_id)) " +
      "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(n_tok) AS BIGINT) AS n_words, " +
      "CAST(sum(n_wp) AS BIGINT) AS n_pieces, " +
      "CAST((sum(n_wp) * 1000000) // sum(n_tok) AS BIGINT) " +
      "AS fertility_micro FROM f GROUP BY source ORDER BY source NULLS FIRST"))

  /** [EXT] L87 embedding covariance ([[Similarity.covarianceCells]]):
    * the upper-triangular dim×dim second-moment table PCA / whitening
    * / feature-correlation audits start from — computed as the
    * textbook giant-rows × tiny-state pass (per-row product explode,
    * map-side-combined cell aggregate; the shuffle carries ~dim²/2
    * cells per task at ANY corpus size). Components quantize to
    * 1/1000 before exact-BIGINT moment sums, one closed-form double
    * division per cell; [[Similarity.principalComponent]] consumes
    * this frame driver-side (dim²-sized statistics, never corpus
    * data) for the power-iteration eigenpair.
    */
  /** [EXT] L102 per-dimension embedding standardization
    * ([[Similarity.standardize]]): z-score every component against its
    * dimension's corpus mean/std — the preprocessing that stops a
    * high-variance dimension from silently dominating every cosine/L2
    * decision (diagonal whitening, no matrix inversion). Moments are
    * exact BIGINT over 1/1000-quantized components (the integer
    * variance numerator cannot go negative), z quantizes to µ-units;
    * the 64-row stats table broadcasts back over one corpus re-scan.
    * Zero-variance dims emit z = 0 by contract.
    */
  private val qEmbedStandardize = Q("q_embed_standardize",
    (s, d) => Similarity.standardize(t(s, d, "embeddings"),
        col("vec_id"), col("embedding"))
      .orderBy("vec_id", "dim"),
    Some("WITH q AS (SELECT vec_id, u.dim AS dim, u.q AS q FROM " +
      "(SELECT vec_id, unnest(list_transform(" +
      "generate_series(1, len(embedding)), i -> {'dim': " +
      "CAST(i - 1 AS BIGINT), 'q': CAST(floor(" +
      "CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)})) AS u " +
      "FROM embeddings)), " +
      "st AS (SELECT dim, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sqq " +
      "FROM q GROUP BY dim), " +
      "sts AS (SELECT dim, CAST(sq AS DOUBLE) / " +
      "(CAST(n AS DOUBLE) * 1000) AS mu, " +
      "sqrt((CAST(sqq AS DOUBLE) * CAST(n AS DOUBLE) - " +
      "CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000.0)) AS sd " +
      "FROM st) " +
      "SELECT q.vec_id, q.dim, CASE WHEN sd = 0.0 THEN 0 ELSE " +
      "CAST(floor((CAST(q.q AS DOUBLE) / 1000 - mu) / sd * 1000000 " +
      "+ 0.5) AS BIGINT) END AS z_micro FROM q JOIN sts USING (dim) " +
      "ORDER BY vec_id, dim"))

  private val qEmbedCovariance = Q("q_embed_covariance",
    (s, d) => Similarity.covarianceCells(t(s, d, "embeddings"),
        col("embedding"), dim = 64)
      .orderBy("i", "j"),
    Some("WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]), " +
      "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS vq " +
      "FROM embeddings), " +
      // series bounded by len(vq), not the fixed dim: a NULL/short
      // vector contributes only its present components, exactly the
      // posexplode contract (null fixture: fixed 64 counted null cells)
      "ex AS (SELECT vq, unnest(generate_series(1, len(vq))) AS ii FROM e), " +
      "pr AS (SELECT ii - 1 AS i, jj - 1 AS j, vq[ii] AS xi, " +
      "vq[jj] AS xj FROM (SELECT vq, ii, " +
      "unnest(generate_series(ii, len(vq))) AS jj FROM ex)), " +
      "m AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, " +
      "CAST(count(*) AS BIGINT) AS n, CAST(sum(xi) AS BIGINT) AS sx, " +
      "CAST(sum(xj) AS BIGINT) AS sy, " +
      "CAST(sum(xi * xj) AS BIGINT) AS sxy FROM pr GROUP BY i, j) " +
      // + 0.0 folds IEEE −0.0 to +0.0 (mirrored in covarianceCells)
      "SELECT i, j, n, round((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000.0), 4) + 0.0 " +
      "AS cov FROM m ORDER BY i, j"))

  /** [EXT] L88 MMR diversity re-rank ([[Similarity.mmrSelect]]):
    * greedy maximal-marginal-relevance selection of 4 from each
    * query's top-12 cosine candidates (λ = 0.5) — the standard
    * diversity step on top of ANN so near-duplicate hits don't crowd
    * out coverage. The greedy trajectory is replayed step-for-step in
    * the oracle as a generated CTE chain (same argmax order, same
    * λ·rel − (1−λ)·red arithmetic, ties on vec_id), the same
    * chain-generation discipline as q_bpe_train.
    */
  private val qMmrDiversify = Q("q_mmr_diversify",
    (s, d) => {
      val n = embNorm(s, d)
      Similarity.mmrSelect(
          queries = n.filter(col("vec_id").isin(1, 2, 3, 4)),
          corpus = n, c = 12, k = 4, lambda = 0.5)
        .orderBy("qid", "pick")
    },
    Some {
      val lam = 0.5
      val crit = s"$lam * rel - ${1 - lam} * red"
      val steps = (2 to 4).map { st =>
        s"cand$st AS (SELECT c.qid, c.vec_id, c.rel, max(m.sim) AS red " +
          s"FROM cands c JOIN sims m ON m.qid = c.qid AND m.a = c.vec_id " +
          s"JOIN sel${st - 1} s ON s.qid = m.qid AND s.vec_id = m.b " +
          s"WHERE NOT EXISTS (SELECT 1 FROM sel${st - 1} z " +
          "WHERE z.qid = c.qid AND z.vec_id = c.vec_id) " +
          "GROUP BY c.qid, c.vec_id, c.rel), " +
          s"s$st AS (SELECT qid, vec_id, $st AS pick, score FROM " +
          s"(SELECT qid, vec_id, $crit AS score, " +
          s"row_number() OVER (PARTITION BY qid ORDER BY $crit DESC, " +
          s"vec_id) AS rn FROM cand$st) WHERE rn = 1), " +
          s"sel$st AS (SELECT qid, vec_id FROM sel${st - 1} " +
          s"UNION ALL SELECT qid, vec_id FROM s$st)"
      }.mkString(", ")
      duckNormCte + ", " +
        "cands AS (SELECT qid, vec_id, rel FROM (SELECT a.vec_id AS qid, " +
        "b.vec_id, list_dot_product(a.v, b.v) / (a.nm * b.nm) AS rel, " +
        "row_number() OVER (PARTITION BY a.vec_id ORDER BY " +
        "list_dot_product(a.v, b.v) / (a.nm * b.nm) DESC, b.vec_id) " +
        "AS rnk FROM n a JOIN n b ON a.vec_id IN (1, 2, 3, 4) " +
        "AND b.vec_id <> a.vec_id) WHERE rnk <= 12), " +
        "sims AS (SELECT c1.qid, c1.vec_id AS a, c2.vec_id AS b, " +
        "list_dot_product(x.v, y.v) / (x.nm * y.nm) AS sim FROM cands c1 " +
        "JOIN cands c2 ON c1.qid = c2.qid AND c1.vec_id <> c2.vec_id " +
        "JOIN n x ON x.vec_id = c1.vec_id JOIN n y ON y.vec_id = c2.vec_id), " +
        "s1 AS (SELECT qid, vec_id, 1 AS pick, rel AS score FROM " +
        "(SELECT qid, vec_id, rel, row_number() OVER (PARTITION BY qid " +
        "ORDER BY rel DESC, vec_id) AS rn FROM cands) WHERE rn = 1), " +
        "sel1 AS (SELECT qid, vec_id FROM s1), " + steps + " " +
        "SELECT qid, CAST(pick AS BIGINT) AS pick, vec_id, " +
        "round(score, 4) + 0.0 AS score FROM " +
        "(SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL " +
        "SELECT * FROM s3 UNION ALL SELECT * FROM s4) " +
        "ORDER BY qid, pick"
    })

  /** [EXT] L89 Moore–Lewis cross-entropy-difference selection
    * ([[TextAnalysis.mooreLewisScore]]): the published
    * intelligent-selection / DSIR recipe — per-doc
    * H_target − H_corpus under an add-1-smoothed target-slice LM
    * (src0 as the in-domain seed) vs the corpus LM, keep = the exact
    * integer difference sum is negative. Two vocabulary-sized LM
    * aggregates, the joint table broadcast back over one corpus
    * re-scan; every cross-row quantity is exact µbit BIGINT and the
    * decision never touches a rounded double.
    */
  private val qMooreLewis = Q("q_moore_lewis",
    (s, d) => TextAnalysis.mooreLewisScore(t(s, d, "documents"),
        col("text"), col("doc_id"), col("source") === "src0")
      .orderBy("doc_id"),
    Some("WITH dt AS (SELECT doc_id, source, t AS term, " +
      "CAST(count(*) AS BIGINT) AS tf FROM (SELECT doc_id, source, " +
      "unnest(string_split(text, ' ')) AS t FROM documents) " +
      "GROUP BY 1, 2, 3), " +
      "cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS n FROM dt " +
      "GROUP BY term), " +
      "ctot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cf), " +
      "tf2 AS (SELECT term, CAST(sum(tf) AS BIGINT) AS nt FROM dt " +
      "WHERE source = 'src0' GROUP BY term), " +
      "vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cf), " +
      "ttot AS (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) AS nnt " +
      "FROM tf2), " +
      "lm AS (SELECT cf.term, " +
      "CAST(round(-(ln(CAST(cf.n AS DOUBLE) / nn) / ln(2.0)) * 1000000) " +
      "AS BIGINT) AS cc, " +
      "CAST(round(-(ln(CAST(coalesce(tf2.nt, 0) + 1 AS DOUBLE) / " +
      "CAST(nnt + v AS DOUBLE)) / ln(2.0)) * 1000000) AS BIGINT) AS ct " +
      "FROM cf LEFT JOIN tf2 USING (term), ctot, ttot, vsize), " +
      "c AS (SELECT doc_id, " +
      "CAST(sum(dt.tf * (lm.ct - lm.cc)) AS BIGINT) AS dsum, " +
      "CAST(sum(dt.tf) AS BIGINT) AS n_tok FROM dt JOIN lm USING (term) " +
      "GROUP BY doc_id) " +
      "SELECT doc_id, n_tok, dsum AS ml_sum_micro, " +
      "round(CAST(dsum AS DOUBLE) / CAST(n_tok AS DOUBLE), 4) + 0.0 " +
      "AS ml_bits, CASE WHEN dsum < 0 THEN 'keep' ELSE 'drop' END " +
      "AS label FROM c ORDER BY doc_id"))

  /** [EXT] L90 hashing-trick featurization
    * ([[TextAnalysis.featureHash]]): 64-bucket sparse count vectors
    * per doc with the signed variant alongside (sign from the next
    * hash bit so collision noise cancels in expectation) — the
    * featurize step for a fastText-style classifier with no
    * vocabulary table to build or ship. Dim/sign come from the
    * portable 48-bit md5 hash the oracle replays exactly; one
    * map-side-combined (doc, dim) aggregate, no join, row-linear.
    */
  private val qFeatureHash = Q("q_feature_hash",
    (s, d) => TextAnalysis.featureHash(t(s, d, "documents"),
        col("text"), col("doc_id"), k = 64)
      .orderBy("doc_id", "dim"),
    Some {
      val h = TextHash.duckBaseHash("term")
      "WITH dt AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) " +
        "AS tf FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t " +
        "FROM documents) GROUP BY 1, 2) " +
        s"SELECT doc_id, CAST($h % 64 AS BIGINT) AS dim, " +
        "CAST(sum(tf) AS BIGINT) AS cnt, " +
        s"CAST(sum((CASE WHEN $h % 128 >= 64 THEN -1 ELSE 1 END) * tf) " +
        "AS BIGINT) AS sval " +
        "FROM dt GROUP BY doc_id, dim ORDER BY doc_id, dim"
    })

  /** [EXT] L100 in-engine logistic-regression training
    * ([[TextAnalysis.lrTrain]]): 3 full-batch GD steps over the L90
    * hashed feature space + bias, label = (lang = 'en') — the
    * train-the-classifier-where-the-data-lives step that closes the
    * loop q_quality_logit scores with fixed weights. The model is 65
    * integer µ-weights; margins are exact-BIGINT dot products,
    * residuals quantize to µ before the k-cell gradient aggregate, so
    * the oracle replays the ENTIRE trajectory (the q_kmeans
    * discipline applied to a learner). Feature frame materializes
    * once; per step one (k+1)-row broadcast + two doc-keyed passes.
    */
  private val qLrTrain = Q("q_lr_train",
    (s, d) => TextAnalysis.lrTrain(t(s, d, "documents"),
        col("text"), col("doc_id"), col("lang") === "en",
        k = 64, steps = 3)
      .orderBy("dim"),
    Some {
      val h = TextHash.duckBaseHash("term")
      def step(i: Int): String = {
        val pw = s"w${i - 1}"
        s"m$i AS (SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) " +
          s"AS mm FROM ff f JOIN $pw w USING (dim) GROUP BY f.doc_id), " +
          s"r$i AS (SELECT m.doc_id, CAST(floor((1.0 / (1.0 + " +
          "exp(-(CAST(m.mm AS DOUBLE) / 1000000.0))) - " +
          "CAST(y.y AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS rq " +
          s"FROM m$i m JOIN lab y USING (doc_id)), " +
          s"g$i AS (SELECT f.dim, CAST(sum(f.cnt * r.rq) AS BIGINT) " +
          s"AS g FROM ff f JOIN r$i r USING (doc_id) GROUP BY f.dim), " +
          s"w$i AS (SELECT w.dim, CAST(w.w - CAST(floor(" +
          // greatest(nn*2, 1) mirrors lrTrain's empty-corpus no-op
          // guard: with nn = 0 every gradient is already 0 and the
          // step must stay a no-op on BOTH engines (DuckDB yields
          // 0/0 artifacts, Spark ANSI hard-errors)
          "CAST(COALESCE(g.g, 0) AS DOUBLE) / greatest(nn * 2, 1) + 0.5) " +
          s"AS BIGINT) AS BIGINT) AS w FROM $pw w " +
          s"LEFT JOIN g$i g USING (dim) CROSS JOIN tot)"
      }
      "WITH dtf AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) " +
        "AS tf FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t " +
        "FROM documents) GROUP BY 1, 2), " +
        s"fh AS (SELECT doc_id, CAST($h % 64 AS BIGINT) AS dim, " +
        "CAST(sum(tf) AS BIGINT) AS cnt FROM dtf GROUP BY doc_id, dim), " +
        "ff AS (SELECT doc_id, dim, cnt FROM fh UNION ALL " +
        "SELECT doc_id, CAST(64 AS BIGINT) AS dim, CAST(1 AS BIGINT) " +
        "AS cnt FROM documents), " +
        "lab AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS y " +
        "FROM documents), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents), " +
        "w0 AS (SELECT CAST(unnest(generate_series(0, 64)) AS BIGINT) " +
        "AS dim, CAST(0 AS BIGINT) AS w), " +
        step(1) + ", " + step(2) + ", " + step(3) +
        " SELECT dim, w AS w_micro FROM w3 ORDER BY dim"
    })

  /** [EXT] L95 content-defined chunking ([[Sampling.cdcChunks]]):
    * chunk boundaries where the token's 48-bit content hash ≡ 0
    * (mod 8) — boundaries are properties of the TEXT, so an insertion
    * changes only the chunks touching it while q_chunk_windows' fixed
    * grid shifts every downstream chunk (the CDC property that lets
    * chunk-level dedup survive edits between crawl snapshots;
    * DedupSpec pins it). One doc-keyed window + one (doc, chunk)
    * aggregate on the same exchange; within-chunk order via an
    * sort_array fold, never an order-sensitive collect.
    */
  private val qCdcChunks = Q("q_cdc_chunks",
    (s, d) => Sampling.cdcChunks(t(s, d, "documents"),
        col("doc_id"), col("text"), b = 8)
      .orderBy("doc_id", "chunk_idx"),
    Some("WITH tk AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM " +
      "(SELECT doc_id, unnest(list_transform(" +
      "generate_series(1, len(toks)), i -> {'pos': i - 1, " +
      "'tok': toks[i]})) AS u FROM (SELECT doc_id, " +
      "string_split(text, ' ') AS toks FROM documents))), " +
      "c AS (SELECT doc_id, pos, tok, CASE WHEN (" +
      TextHash.duckBaseHash("tok") + ") % 8 = 0 THEN 1 ELSE 0 END " +
      "AS cut FROM tk), " +
      "ch AS (SELECT doc_id, pos, tok, sum(cut) OVER " +
      "(PARTITION BY doc_id ORDER BY pos) - cut AS chunk_idx FROM c) " +
      "SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, " +
      "CAST(count(*) AS BIGINT) AS n_tok, " +
      "md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5 " +
      "FROM ch GROUP BY doc_id, chunk_idx ORDER BY doc_id, chunk_idx"))

  /** [EXT] L98 per-source data card ([[TextAnalysis.dataCard]]): the
    * datasheets-for-datasets composition table — per source, docs,
    * tokens, token share of corpus, mean quality bps, and the
    * dominant language with its share (what a mixing step reads first;
    * dominant-lang share flags mislabeled sources before they poison
    * a monolingual run). Two source-keyed aggregates + a domain-sized
    * dominant-lang election; all ratios exact BIGINT bps.
    */
  private val qDataCard = Q("q_data_card",
    (s, d) => TextAnalysis.dataCard(t(s, d, "documents"),
        col("text"), col("source"), col("lang"))
      .orderBy("source"),
    Some(s"WITH b AS (SELECT source, lang, " +
      "CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) " +
      s"AS n_tok, $duckQbps AS q FROM documents), " +
      "per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(n_tok) AS BIGINT) AS n_tok, CAST(sum(q) AS BIGINT) " +
      "AS qsum, CAST(count(q) AS BIGINT) AS n_q FROM b GROUP BY source), " +
      "tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS t FROM per), " +
      "tl AS (SELECT source, lang AS top_lang, c AS top_c FROM " +
      "(SELECT source, lang, c, row_number() OVER " +
      "(PARTITION BY source ORDER BY c DESC, lang) AS rn FROM " +
      "(SELECT source, lang, CAST(count(*) AS BIGINT) AS c FROM b " +
      "GROUP BY 1, 2)) WHERE rn = 1) " +
      "SELECT per.source, n_docs, per.n_tok, " +
      "CAST(floor(per.n_tok * 10000 / t) AS BIGINT) AS tok_share_bps, " +
      "CASE WHEN n_q = 0 THEN NULL ELSE CAST(qsum // n_q AS BIGINT) END " +
      "AS mean_quality_bps, top_lang, " +
      "CAST(floor(top_c * 10000 / n_docs) AS BIGINT) AS top_lang_bps " +
      "FROM per JOIN tl USING (source), tot ORDER BY source NULLS FIRST"))

  /** [EXT] L97 data-driven blocklist filter
    * ([[TextAnalysis.blocklistFilter]]): per-doc blocklisted-token
    * density in exact bps + the keep decision at 5% — the C4-style
    * bad-word rule as a broadcast TABLE join, the shape that survives
    * 100k-entry production lists where a regex alternation cannot
    * (q_redact remains the pattern-shaped scrub). One corpus scan,
    * one doc-keyed aggregate; list size never touches the plan.
    */
  private val qBlocklist = Q("q_blocklist",
    (s, d) => {
      import s.implicits._
      val bl = Seq("slow", "legacy", "batch").toDF("term")
      TextAnalysis.blocklistFilter(t(s, d, "documents"),
          col("text"), col("doc_id"), bl, maxBps = 500L)
        .orderBy("doc_id")
    },
    Some("WITH bl(term) AS (VALUES ('slow'), ('legacy'), ('batch')), " +
      "dt AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf " +
      "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t " +
      "FROM documents) GROUP BY 1, 2), " +
      "c AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok, " +
      "CAST(sum(CASE WHEN bl.term IS NOT NULL THEN tf ELSE 0 END) " +
      "AS BIGINT) AS n_bad FROM dt LEFT JOIN bl USING (term) " +
      "GROUP BY doc_id) " +
      "SELECT doc_id, n_tok, n_bad, " +
      "CAST(floor(n_bad * 10000 / n_tok) AS BIGINT) AS bad_bps, " +
      "(floor(n_bad * 10000 / n_tok) <= 500) AS keep " +
      "FROM c ORDER BY doc_id"))

  /** [EXT] L109 phrase-level blocklist screen
    * ([[TextAnalysis.blocklistPhrases]]): the C4 rule as published —
    * a doc containing ANY listed two-word phrase is dropped (zero
    * tolerance, vs q_blocklist's density threshold for single terms).
    * Phrase list as a versioned broadcast table; one scan over the
    * fused bigram kernel + one doc-keyed aggregate; sub-2-token docs
    * omitted by the shingle frame convention.
    */
  private val qBlocklistPhrases = Q("q_blocklist_phrases",
    (s, d) => {
      import s.implicits._
      val phrases = Seq("slow filter", "legacy batch").toDF("phrase")
      TextAnalysis.blocklistPhrases(t(s, d, "documents"),
          col("text"), col("doc_id"), phrases)
        .orderBy("doc_id")
    },
    Some("WITH pl(phrase) AS (VALUES ('slow filter'), ('legacy batch')), " +
      "b AS (SELECT doc_id, unnest(" + TextHash.duckShingles("text", 2) +
      ") AS phrase FROM documents), " +
      "c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_phrases, " +
      "CAST(sum(CASE WHEN pl.phrase IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_hits FROM b LEFT JOIN pl USING (phrase) " +
      "GROUP BY doc_id) " +
      "SELECT doc_id, n_phrases, n_hits, (n_hits = 0) AS keep " +
      "FROM c ORDER BY doc_id"))

  /** [EXT] L96 DSIR hashed-ngram importance weights
    * ([[TextAnalysis.dsirWeights]]): per-doc log p_target/p_raw over
    * hashed bigram features in a FIXED 256-bucket space, both
    * distributions add-1 smoothed over the buckets — the published
    * full-crawl selection recipe whose state is k rows at ANY corpus
    * size (vs q_moore_lewis's vocabulary-sized LM join); bigram
    * features see sequence structure a unigram LM cannot. Exact-BIGINT
    * µbit sums; sub-2-token docs omitted. The oracle replays the
    * 48-bit hash bucketing, the identical double literals, and the
    * µbit quantization.
    */
  private val qDsirWeights = Q("q_dsir_weights",
    (s, d) => TextAnalysis.dsirWeights(t(s, d, "documents"),
        col("text"), col("doc_id"), col("lang") === "en", k = 256)
      .orderBy("doc_id"),
    Some("WITH f AS (SELECT doc_id, (lang = 'en') AS tgt, (" +
      TextHash.duckBaseHash("bg") + ") % 256 AS d FROM " +
      "(SELECT doc_id, lang, unnest(" + TextHash.duckShingles("text", 2) +
      ") AS bg FROM documents)), " +
      "cnt AS (SELECT doc_id, d, CAST(count(*) AS BIGINT) AS c " +
      "FROM f GROUP BY 1, 2), " +
      "raw AS (SELECT d, CAST(count(*) AS BIGINT) AS nr FROM f " +
      "GROUP BY d), " +
      "tg AS (SELECT d, CAST(count(*) AS BIGINT) AS nt FROM f " +
      "WHERE tgt GROUP BY d), " +
      "rt AS (SELECT CAST(sum(nr) AS BIGINT) AS nnr FROM raw), " +
      "tt AS (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) AS nnt " +
      "FROM tg), " +
      "dl AS (SELECT raw.d, CAST(round((" +
      "ln(CAST(coalesce(tg.nt, 0) + 1 AS DOUBLE) / " +
      "CAST(nnt + 256 AS DOUBLE)) / ln(2.0) - " +
      "ln(CAST(raw.nr + 1 AS DOUBLE) / " +
      "CAST(nnr + 256 AS DOUBLE)) / ln(2.0)) * 1000000) AS BIGINT) " +
      "AS delta FROM raw LEFT JOIN tg USING (d), rt, tt) " +
      "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feat, " +
      "CAST(sum(c * delta) AS BIGINT) AS dsir_micro " +
      "FROM cnt JOIN dl USING (d) GROUP BY doc_id ORDER BY doc_id"))

  /** [EXT] L108 deterministic negative sampling
    * ([[Sampling.negativeSamples]]): one unigram^0.75 negative per
    * token position (the word2vec/contrastive noise distribution) —
    * draw = hash("neg:doc:pos") mod total mass mapped through the
    * vocabulary's cumulative intervals. n^0.75 via sqrt(n·sqrt(n))
    * (correctly-rounded ops where pow() is not), so the quantized
    * interval table is bit-identical cross-engine; the lookup is a
    * BANDED equi-join (never a nested-loop range probe), vocab-sized
    * and broadcast. Oracle replays the weights and does the interval
    * join directly.
    */
  private val qNegativeSamples = Q("q_negative_samples",
    (s, d) => Sampling.negativeSamples(t(s, d, "documents"),
        col("doc_id"), col("text"))
      .orderBy("doc_id", "pos"),
    Some({
      val h = TextHash.duckBaseHash(
        "concat('neg:', CAST(doc_id AS VARCHAR), ':', CAST(pos AS VARCHAR))")
      "WITH tf AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS n " +
        "FROM (SELECT unnest(string_split(text, ' ')) AS t " +
        "FROM documents) GROUP BY t), " +
        "wq AS (SELECT term, CAST(floor(sqrt(CAST(n AS DOUBLE) * " +
        "sqrt(CAST(n AS DOUBLE))) * 1000 + 0.5) AS BIGINT) AS w " +
        "FROM tf), " +
        "cum AS (SELECT term, w, CAST(sum(w) OVER (ORDER BY term) " +
        "AS BIGINT) AS hi FROM wq), " +
        "iv AS (SELECT term, hi - w AS lo, hi FROM cum), " +
        "tot AS (SELECT CAST(max(hi) AS BIGINT) AS t FROM cum), " +
        "tk AS (SELECT doc_id, u.pos AS pos, u.tok AS term FROM " +
        "(SELECT doc_id, unnest(list_transform(" +
        "generate_series(1, len(toks)), i -> {'pos': " +
        "CAST(i - 1 AS BIGINT), 'tok': toks[i]})) AS u FROM " +
        "(SELECT doc_id, string_split(text, ' ') AS toks " +
        "FROM documents))), " +
        s"dr AS (SELECT doc_id, pos, term, ($h) % t AS u FROM tk, tot) " +
        "SELECT d.doc_id, d.pos, d.term, c.term AS neg_term FROM dr d " +
        "JOIN iv c ON d.u >= c.lo AND d.u < c.hi " +
        "ORDER BY doc_id, pos"
    }))

  /** [EXT] L106 fill-in-the-middle transform
    * ([[Sampling.fimTransform]]): PSM reordering
    * `<PRE> prefix <SUF> suffix <MID> middle` at two
    * content-deterministic token cuts (hash of docid:1/2 mod n_tok) —
    * the data-side half of FIM training with no RNG state to ship.
    * Pure per-row slice/join projection, ZERO shuffle at any corpus
    * size; the oracle replays the same cuts and slices.
    */
  private val qFim = Q("q_fim",
    (s, d) => Sampling.fimTransform(t(s, d, "documents"),
        col("doc_id"), col("text"))
      .orderBy("doc_id"),
    Some({
      val h1 = TextHash.duckBaseHash(
        "concat(CAST(doc_id AS VARCHAR), ':1')")
      val h2 = TextHash.duckBaseHash(
        "concat(CAST(doc_id AS VARCHAR), ':2')")
      "WITH tkz AS (SELECT doc_id, string_split(text, ' ') AS toks, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM " +
        "documents WHERE text IS NOT NULL), " +
        s"cz AS (SELECT doc_id, toks, n, ($h1) % n AS c1, " +
        s"($h2) % n AS c2 FROM tkz), " +
        "cut AS (SELECT doc_id, toks, n, least(c1, c2) AS lo, " +
        "greatest(c1, c2) AS hi FROM cz) " +
        "SELECT doc_id, n AS n_tok, CAST(lo AS BIGINT) AS lo, " +
        "CAST(hi AS BIGINT) AS hi, " +
        // array_to_string([]) is NULL in DuckDB (Spark array_join
        // gives '') — coalesce each piece so empty segments stay ''
        "'<PRE> ' || coalesce(array_to_string(toks[1:lo], ' '), '') " +
        "|| ' <SUF> ' || " +
        "coalesce(array_to_string(toks[hi+1:n], ' '), '') || " +
        "' <MID> ' || " +
        "coalesce(array_to_string(toks[lo+1:hi], ' '), '') AS fim " +
        "FROM cut ORDER BY doc_id"
    }))

  /** [EXT] L105 T5-style span corruption ([[Sampling.spanCorrupt]]):
    * deterministic masked-span (corrupted, target) training pairs —
    * span seeds where hash("docid:pos") ≡ 0 mod 8, 3-token spans,
    * overlaps merged into sentinel runs `<Xi>` exactly as the
    * published denoising objective, with no RNG state to ship (the
    * same hash-not-RNG reproducibility contract as the samplers).
    * Three window passes ride ONE doc-keyed exchange; reassembly is
    * sort_array folds. Unseeded docs pass through with target ''.
    */
  private val qSpanCorrupt = Q("q_span_corrupt",
    (s, d) => Sampling.spanCorrupt(t(s, d, "documents"),
        col("doc_id"), col("text"), rate = 8)
      .orderBy("doc_id"),
    Some("WITH tk AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM " +
      "(SELECT doc_id, unnest(list_transform(" +
      "generate_series(1, len(toks)), i -> {'pos': i - 1, " +
      "'tok': toks[i]})) AS u FROM (SELECT doc_id, " +
      "string_split(text, ' ') AS toks FROM documents))), " +
      "sd AS (SELECT doc_id, pos, tok, ((" +
      TextHash.duckBaseHash(
        "concat(CAST(doc_id AS VARCHAR), ':', CAST(pos AS VARCHAR))") +
      ") % 8 = 0) AS seed FROM tk), " +
      "mk AS (SELECT doc_id, pos, tok, (seed OR " +
      "coalesce(lag(seed, 1) OVER w, false) OR " +
      "coalesce(lag(seed, 2) OVER w, false)) AS masked FROM sd " +
      "WINDOW w AS (PARTITION BY doc_id ORDER BY pos)), " +
      "rs AS (SELECT doc_id, pos, tok, masked, (masked AND NOT " +
      "coalesce(lag(masked, 1) OVER w, false)) AS run_start FROM mk " +
      "WINDOW w AS (PARTITION BY doc_id ORDER BY pos)), " +
      "rn AS (SELECT doc_id, pos, tok, masked, run_start, " +
      "CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END) OVER " +
      "(PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS run FROM rs), " +
      "co AS (SELECT doc_id, string_agg(o, ' ' ORDER BY pos) " +
      "AS corrupted FROM (SELECT doc_id, pos, CASE WHEN NOT masked " +
      "THEN tok WHEN run_start THEN '<X' || CAST(run AS VARCHAR) || " +
      "'>' ELSE NULL END AS o FROM rn) WHERE o IS NOT NULL " +
      "GROUP BY doc_id), " +
      "nm AS (SELECT doc_id, CAST(sum(CASE WHEN masked THEN 1 ELSE 0 " +
      "END) AS BIGINT) AS n_masked FROM rn GROUP BY doc_id), " +
      "tg1 AS (SELECT doc_id, run, '<X' || CAST(run AS VARCHAR) || " +
      "'> ' || string_agg(tok, ' ' ORDER BY pos) AS run_str FROM rn " +
      "WHERE masked GROUP BY doc_id, run), " +
      "tg AS (SELECT doc_id, string_agg(run_str, ' ' ORDER BY run) " +
      "AS target FROM tg1 GROUP BY doc_id) " +
      "SELECT co.doc_id, nm.n_masked, co.corrupted, " +
      "coalesce(tg.target, '') AS target FROM co JOIN nm USING (doc_id) " +
      "LEFT JOIN tg USING (doc_id) ORDER BY doc_id"))

  /** [EXT] L104 token-budget quality cut
    * ([[Sampling.tokenBudgetCut]]): keep the highest-quality docs
    * until 20k tokens are filled — the "train on the best B tokens"
    * pruning decision as a token-WEIGHTED quality quantile (a
    * doc-count quantile over-admits long low-quality docs). The
    * histogram is quality-DOMAIN-bounded so the cumulative window
    * never sees corpus-sized rows; the threshold broadcasts back as
    * one row; kept mass overshoots by at most one quality bucket.
    */
  private val qTokenBudgetCut = Q("q_token_budget_cut",
    (s, d) => Sampling.tokenBudgetCut(t(s, d, "documents"),
        col("text"), col("doc_id"), budget = 20000L)
      .orderBy("doc_id"),
    Some(s"WITH q AS (SELECT doc_id, $duckQbps AS quality_bps, " +
      s"CAST($duckNTok AS BIGINT) AS n_tok FROM documents " +
      "WHERE text IS NOT NULL), " +
      "h AS (SELECT quality_bps, CAST(sum(n_tok) AS BIGINT) AS tok " +
      "FROM q GROUP BY 1), " +
      "c AS (SELECT quality_bps, tok, CAST(sum(tok) OVER " +
      "(ORDER BY quality_bps DESC) AS BIGINT) AS cum FROM h), " +
      "thr AS (SELECT min(quality_bps) AS thr FROM c " +
      "WHERE cum - tok < 20000) " +
      "SELECT doc_id, quality_bps, n_tok FROM q, thr " +
      "WHERE quality_bps >= thr ORDER BY doc_id"))

  /** [EXT] L91 training-order interleave
    * ([[Sampling.interleaveOrder]]): deterministic source round-robin
    * — position p of source s lands at slot (p−1)·n_sources + rank(s),
    * so reading in slot order never dwells on one domain (the
    * loss-spike failure a trainer hits when shards arrive
    * source-clumped). No corpus-global window: per-source positions
    * ride one source-keyed window exchange, source ranks broadcast.
    */
  private val qInterleave = Q("q_interleave",
    (s, d) => Sampling.interleaveOrder(t(s, d, "documents"),
        col("doc_id"), col("source"))
      .orderBy("slot"),
    Some("WITH s AS (SELECT source, CAST(row_number() OVER " +
      "(ORDER BY source) - 1 AS BIGINT) AS src_rank FROM " +
      // null sources can't be round-robined (see interleaveOrder)
      "(SELECT DISTINCT source FROM documents WHERE source IS NOT NULL)), " +
      "c AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM s), " +
      "p AS (SELECT doc_id, source, CAST(row_number() OVER " +
      "(PARTITION BY source ORDER BY doc_id) AS BIGINT) AS p " +
      "FROM documents) " +
      "SELECT p.doc_id, p.source, p.p, " +
      "CAST((p.p - 1) * c.n_src + s.src_rank AS BIGINT) AS slot " +
      "FROM p JOIN s USING (source), c ORDER BY slot"))

  // ------------------------------------------- round-19 session 2:
  // margin-criterion bitext mining, k-NN label propagation,
  // embedding-space outlier scoring, per-doc token entropy

  /** [EXT] Margin-criterion bitext mining (the LASER rule): label<5
    * plays the source-side encoder output, label>=5 the target side;
    * each source vector keeps its best-margin target when the ratio
    * vs both local neighborhoods (k=4) clears 1.0. The oracle replays
    * the identical µ-quantized pipeline — candidate cosines rounded to
    * exact BIGINT micro-units BEFORE the k-NN sums, so both engines
    * rank and threshold on bit-identical values (see
    * [[Similarity.marginMine]]'s determinism contract).
    */
  private val qBitextMargin = Q("q_bitext_margin",
    (s, d) => {
      val n = Similarity.withNorm(t(s, d, "embeddings"), col("vec_id"),
        col("embedding"), dim = EmbDim, keep = Seq(col("label")))
      Similarity.marginMine(
        n.filter(col("label") < 5).drop("label"),
        n.filter(col("label") >= 5).drop("label"),
        k = 4, threshold = 1.0)
        .orderBy("xid")
    },
    Some("WITH nf AS (SELECT vec_id, label, " +
      "CAST(embedding AS DOUBLE[]) AS v, " +
      "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
      s"CAST(embedding AS DOUBLE[]))) AS nm FROM embeddings WHERE $duckEmbUnit), " +
      "x AS (SELECT vec_id AS xid, v, nm FROM nf WHERE label < 5), " +
      "y AS (SELECT vec_id AS yid, v, nm FROM nf WHERE label >= 5), " +
      "s AS (SELECT xid, yid, CAST(round(list_dot_product(x.v, y.v) " +
      "/ (x.nm * y.nm) * 1000000) AS BIGINT) AS qcos " +
      "FROM x CROSS JOIN y), " +
      "f AS (SELECT xid, CAST(sum(qcos) AS BIGINT) AS fs FROM (" +
      "SELECT xid, qcos, row_number() OVER (PARTITION BY xid " +
      "ORDER BY qcos DESC, yid) AS rn FROM s) WHERE rn <= 4 GROUP BY xid), " +
      "b AS (SELECT yid, CAST(sum(qcos) AS BIGINT) AS bs FROM (" +
      "SELECT yid, qcos, row_number() OVER (PARTITION BY yid " +
      "ORDER BY qcos DESC, xid) AS rn FROM s) WHERE rn <= 4 GROUP BY yid), " +
      "m AS (SELECT s.xid, s.yid, s.qcos, " +
      "(8.0 * s.qcos) / (fs + bs) AS margin " +
      "FROM s JOIN f USING (xid) JOIN b USING (yid)), " +
      "r AS (SELECT xid, yid, margin, qcos, row_number() OVER (" +
      "PARTITION BY xid ORDER BY margin DESC, yid) AS rn FROM m) " +
      "SELECT xid, yid, round(margin, 4) AS margin, " +
      "CAST(CASE WHEN qcos >= 0 THEN (qcos + 50) // 100 ELSE -((-qcos + 50) // 100) END AS DOUBLE) / 10000.0 AS cos " +
      "FROM r WHERE rn = 1 AND margin >= 1.0 ORDER BY xid"))

  /** [EXT] `q_bitext_margin`'s 100 TB scale path, oracle-gated: the
    * same margin criterion mined from IVF candidate lists (forward and
    * backward retrieval, nprobe=2, cand=8) instead of the |X|·|Y|
    * cross product — the oracle replays both cluster-pruned passes
    * exactly (assignment argmax, probed cells, candidate ranks, the
    * µ-quantized k-NN sums), so this gates the approximation pipeline
    * itself, not just its output shape.
    */
  private val qBitextMarginIvf = Q("q_bitext_margin_ivf",
    (s, d) => {
      val n = Similarity.withNorm(t(s, d, "embeddings"), col("vec_id"),
        col("embedding"), dim = EmbDim, keep = Seq(col("label")))
      Similarity.marginMineIvf(
        n.filter(col("label") < 5).drop("label"),
        n.filter(col("label") >= 5).drop("label"),
        centroids = n.filter(col("vec_id") % 50 === 0).drop("label"),
        k = 4, cand = 8, nprobe = 2, threshold = 1.0)
        .orderBy("xid")
    },
    Some("WITH nf AS (SELECT vec_id, label, " +
      "CAST(embedding AS DOUBLE[]) AS v, " +
      "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
      s"CAST(embedding AS DOUBLE[]))) AS nm FROM embeddings WHERE $duckEmbUnit), " +
      "x AS (SELECT vec_id AS xid, v, nm FROM nf WHERE label < 5), " +
      "y AS (SELECT vec_id AS yid, v, nm FROM nf WHERE label >= 5), " +
      "cent AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM nf " +
      "WHERE vec_id % 50 = 0), " +
      // corpus-side cell assignment, one row per vector
      "ay AS (SELECT yid, v, nm, cid FROM (SELECT y.yid, y.v, y.nm, " +
      "c.cid, row_number() OVER (PARTITION BY y.yid ORDER BY " +
      "list_dot_product(y.v, c.cv) / (y.nm * c.cn) DESC, c.cid) AS rn " +
      "FROM y CROSS JOIN cent c) WHERE rn = 1), " +
      "ax AS (SELECT xid, v, nm, cid FROM (SELECT x.xid, x.v, x.nm, " +
      "c.cid, row_number() OVER (PARTITION BY x.xid ORDER BY " +
      "list_dot_product(x.v, c.cv) / (x.nm * c.cn) DESC, c.cid) AS rn " +
      "FROM x CROSS JOIN cent c) WHERE rn = 1), " +
      // top-nprobe probed cells per query vector
      "px AS (SELECT xid, v, nm, cid FROM (SELECT x.xid, x.v, x.nm, " +
      "c.cid, row_number() OVER (PARTITION BY x.xid ORDER BY " +
      "list_dot_product(x.v, c.cv) / (x.nm * c.cn) DESC, c.cid) AS rn " +
      "FROM x CROSS JOIN cent c) WHERE rn <= 2), " +
      "py AS (SELECT yid, v, nm, cid FROM (SELECT y.yid, y.v, y.nm, " +
      "c.cid, row_number() OVER (PARTITION BY y.yid ORDER BY " +
      "list_dot_product(y.v, c.cv) / (y.nm * c.cn) DESC, c.cid) AS rn " +
      "FROM y CROSS JOIN cent c) WHERE rn <= 2), " +
      // ranked candidates: probed cells' corpus vectors, µ-quantized
      "fwdc AS (SELECT xid, yid, qcos, rnk FROM (SELECT p.xid, a.yid, " +
      "CAST(round(list_dot_product(p.v, a.v) / (p.nm * a.nm) * 1000000) " +
      "AS BIGINT) AS qcos, row_number() OVER (PARTITION BY p.xid " +
      "ORDER BY CAST(round(list_dot_product(p.v, a.v) / (p.nm * a.nm) " +
      "* 1000000) AS BIGINT) DESC, a.yid) AS rnk " +
      "FROM px p JOIN ay a USING (cid)) WHERE rnk <= 8), " +
      "bwdc AS (SELECT yid, xid, qcos, rnk FROM (SELECT p.yid, a.xid, " +
      "CAST(round(list_dot_product(p.v, a.v) / (p.nm * a.nm) * 1000000) " +
      "AS BIGINT) AS qcos, row_number() OVER (PARTITION BY p.yid " +
      "ORDER BY CAST(round(list_dot_product(p.v, a.v) / (p.nm * a.nm) " +
      "* 1000000) AS BIGINT) DESC, a.xid) AS rnk " +
      "FROM py p JOIN ax a USING (cid)) WHERE rnk <= 8), " +
      "f AS (SELECT xid, CAST(sum(CASE WHEN rnk <= 4 THEN qcos END) " +
      "AS BIGINT) AS fs FROM fwdc GROUP BY xid), " +
      "b AS (SELECT yid, CAST(sum(CASE WHEN rnk <= 4 THEN qcos END) " +
      "AS BIGINT) AS bs FROM bwdc GROUP BY yid), " +
      "m AS (SELECT w.xid, w.yid, w.qcos, " +
      "(8.0 * w.qcos) / (fs + bs) AS margin " +
      "FROM fwdc w JOIN f USING (xid) JOIN b USING (yid)), " +
      "r AS (SELECT xid, yid, margin, qcos, row_number() OVER (" +
      "PARTITION BY xid ORDER BY margin DESC, yid) AS rn FROM m) " +
      "SELECT xid, yid, round(margin, 4) AS margin, " +
      "CAST(CASE WHEN qcos >= 0 THEN (qcos + 50) // 100 ELSE -((-qcos + 50) // 100) END AS DOUBLE) / 10000.0 AS cos " +
      "FROM r WHERE rn = 1 AND margin >= 1.0 ORDER BY xid"))

  /** [EXT] k-NN majority-vote label propagation: vec_id<8 play the
    * unlabeled queries, the rest the curated corpus; k=7 neighbors by
    * cosine, prediction by vote count (ties -> smaller label). The vote
    * math is pure integer arithmetic; the neighbor cut uses the raw
    * cosine with id tie-break (the q_ann_topk convention).
    */
  private val qKnnClassify = Q("q_knn_classify",
    (s, d) => {
      val n = Similarity.withNorm(t(s, d, "embeddings"), col("vec_id"),
        col("embedding"), dim = EmbDim, keep = Seq(col("label")))
      Similarity.knnClassify(
        n.filter(col("vec_id") < 8).drop("label"),
        n.filter(col("vec_id") >= 8), k = 7)
        .orderBy("qid")
    },
    Some("WITH nf AS (SELECT vec_id, label, " +
      "CAST(embedding AS DOUBLE[]) AS v, " +
      "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
      s"CAST(embedding AS DOUBLE[]))) AS nm FROM embeddings WHERE $duckEmbUnit), " +
      "q AS (SELECT vec_id AS qid, v, nm FROM nf WHERE vec_id < 8), " +
      // label IS NOT NULL mirrors knnClassify's abstention contract
      // (an unlabeled row can't vote; a NULL vote group would order
      // NULLS FIRST in Spark vs NULLS LAST in DuckDB at a tie); the
      // <> guard mirrors the Spark join's self-exclusion so the idiom
      // stays correct even when query/corpus ids overlap
      "c AS (SELECT vec_id, label, v, nm FROM nf WHERE vec_id >= 8 " +
      "AND label IS NOT NULL), " +
      "s AS (SELECT qid, c.vec_id, c.label, " +
      "list_dot_product(q.v, c.v) / (q.nm * c.nm) AS cos " +
      "FROM q CROSS JOIN c WHERE c.vec_id <> q.qid), " +
      "nn AS (SELECT qid, label FROM (SELECT qid, label, row_number() " +
      "OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM s) " +
      "WHERE rn <= 7), " +
      "v AS (SELECT qid, label, count(*) AS votes FROM nn GROUP BY 1, 2), " +
      "r AS (SELECT qid, label, votes, row_number() OVER (" +
      "PARTITION BY qid ORDER BY votes DESC, label) AS rn FROM v) " +
      "SELECT qid, CAST(label AS BIGINT) AS pred_label, " +
      "CAST(votes AS BIGINT) AS votes FROM r WHERE rn = 1 ORDER BY qid"))

  /** [EXT] Embedding-space outlier scoring: the 20 most isolated
    * vectors by k-NN mean cosine (k=5) — the cleaning dual of near-dup
    * mining. Ranking and the bottom-20 cut both run on the exact
    * BIGINT µ-sum (never a float mean), so the cut is bit-stable
    * across engines; see [[Similarity.knnMeanCos]].
    */
  private val qEmbOutliers = Q("q_emb_outliers",
    (s, d) => Similarity.knnMeanCos(embNorm(s, d), k = 5)
      .orderBy(col("sc").asc, col("vec_id"))
      .limit(20)
      .select(col("vec_id"), col("knn_cos"))
      .orderBy("vec_id"),
    Some(duckNormCte + ", " +
      "s AS (SELECT q.vec_id AS qid, c.vec_id AS cid, " +
      "CAST(round(list_dot_product(q.v, c.v) / (q.nm * c.nm) * 1000000) " +
      "AS BIGINT) AS qcos FROM n q JOIN n c ON q.vec_id <> c.vec_id), " +
      "nn AS (SELECT qid, qcos FROM (SELECT qid, qcos, row_number() " +
      "OVER (PARTITION BY qid ORDER BY qcos DESC, cid) AS rn FROM s) " +
      "WHERE rn <= 5), " +
      "a AS (SELECT qid, CAST(sum(qcos) AS BIGINT) AS sc, " +
      "count(*) AS cnt FROM nn GROUP BY qid) " +
      "SELECT vec_id, knn_cos FROM (SELECT qid AS vec_id, sc, " +
      "round(CAST(sc AS DOUBLE) / (cnt * 1000000.0), 4) AS knn_cos " +
      "FROM a ORDER BY sc, qid LIMIT 20) ORDER BY vec_id"))

  /** [EXT] Per-doc token Shannon entropy (bits): the distribution-
    * uniformity quality signal — near-zero entropy flags keyword-
    * stuffed/spam pages whose every token is individually corpus-
    * typical (invisible to the corpus-LM scorers). µ-bit-exact per
    * [[TextAnalysis.tokenEntropy]].
    */
  private val qTokenEntropy = Q("q_token_entropy",
    (s, d) => TextAnalysis.tokenEntropy(
      t(s, d, "documents"), col("text"), col("doc_id"))
      .orderBy("doc_id"),
    Some("WITH tok AS (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2), " +
      "wn AS (SELECT doc_id, c, CAST(sum(c) OVER (" +
      "PARTITION BY doc_id) AS BIGINT) AS n_tok FROM tf), " +
      "w AS (SELECT doc_id, n_tok, c * CAST(round(-(ln(" +
      "CAST(c AS DOUBLE) / n_tok) / ln(2.0)) * 1000000) AS BIGINT) AS w " +
      "FROM wn) " +
      "SELECT doc_id, n_tok, round(CAST(sum(w) AS DOUBLE) " +
      "/ (n_tok * 1000000.0), 4) AS ent_bits " +
      "FROM w GROUP BY doc_id, n_tok ORDER BY doc_id"))

  /** [EXT] HTML → text extraction ([[TextAnalysis.htmlExtract]]): the
    * crawl pipeline's step 1 over a deterministically synthesized page
    * per document (script/style payloads, nav + footer boilerplate
    * chrome, tag-wrapped paragraphs from the document's own newlines —
    * both engines build the page from the same parquet bytes, so the
    * fixture needs no new input table). Reports the extraction digest
    * plus the text-density signal (extracted chars / page chars) that
    * quality filters cut on — boilerplate-heavy pages score low. The
    * oracle replays the whole rule chain in RE2; `||` (not concat)
    * keeps NULL-text propagation identical. Pure per-row projection:
    * no shuffle at any corpus size.
    */
  private val qHtmlExtract = Q("q_html_extract",
    (s, d) => {
      val page = concat(
        lit("<html><head><style>body{margin:0}</style>" +
          "<script>var x=1;</script></head><body>" +
          "<nav><a href=/>Home</a> | <a href=/about>About</a></nav>" +
          "<h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"),
        regexp_replace(col("text"), "\n", "</p><p>"),
        lit("</p><div id=footer>Copyright example.com</div>" +
          "</body></html>"))
      val extracted = TextAnalysis.htmlExtract(page)
      t(s, d, "documents").select(col("doc_id"),
        length(page).cast("long").as("page_chars"),
        length(extracted).cast("long").as("text_chars"),
        round(length(extracted).cast("double") /
          length(page).cast("double"), 4).as("density"),
        md5(extracted).as("extract_md5"))
        .orderBy("doc_id")
    },
    Some("WITH pg AS (SELECT doc_id, " +
      "'<html><head><style>body{margin:0}</style>" +
      "<script>var x=1;</script></head><body>" +
      "<nav><a href=/>Home</a> | <a href=/about>About</a></nav>" +
      "<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || " +
      "regexp_replace(text, chr(10), '</p><p>', 'g') || " +
      "'</p><div id=footer>Copyright example.com</div></body></html>' " +
      "AS page FROM documents), " +
      "ex AS (SELECT doc_id, page, trim(regexp_replace(" +
      "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "page, '<script[^>]*>.*?</script>', ' ', 'gs'), " +
      "'<style[^>]*>.*?</style>', ' ', 'gs'), " +
      "'<nav>.*?</nav>', ' ', 'gs'), " +
      "'<div id=footer>.*?</div>', ' ', 'gs'), " +
      "'<[^>]+>', ' ', 'g'), " +
      "'&lt;', '<', 'g'), '&gt;', '>', 'g'), '&amp;', '&', 'g'), " +
      "'[ \t\n\r]+', ' ', 'g')) AS extracted FROM pg) " +
      "SELECT doc_id, CAST(length(page) AS BIGINT) AS page_chars, " +
      "CAST(length(extracted) AS BIGINT) AS text_chars, " +
      "round(CAST(length(extracted) AS DOUBLE) / length(page), 4) " +
      "AS density, md5(extracted) AS extract_md5 " +
      "FROM ex ORDER BY doc_id"))

  /** [EXT] Sentence segmentation ([[TextAnalysis.sentenceSplit]]): one
    * row per sentence with raw split index, token count, and digest —
    * the granularity span-level dedup, chunk-boundary packing, and
    * per-sentence quality scoring key on. Empty split elements are
    * dropped AFTER indexing (both engines index the raw array, so
    * `sent_idx` is stable regardless of where empties fall). The
    * explode is a Generate — per-row fan-out, no shuffle; ordering is
    * the deterministic (doc_id, sent_idx) pair.
    */
  private val qSentenceSegment = Q("q_sentence_segment",
    (s, d) => {
      // the synthetic corpus is punctuation-free word soup, which
      // would degenerate the split to one sentence per doc — inject
      // deterministic terminators (same plain-replace chain both
      // engines, left-to-right non-overlapping) so the oracle
      // actually gates the segmentation
      val punct = regexp_replace(
        regexp_replace(col("text"), " join ", ". join "),
        " merge ", "? merge ")
      t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.sentenceSplit(punct))
            .as(Seq("sent_idx", "sent")))
        .filter(length(col("sent")) > 0)
        .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"),
          size(split(col("sent"), " ")).cast("long").as("sent_tokens"),
          md5(col("sent")).as("sent_md5"))
        .orderBy("doc_id", "sent_idx")
    },
    Some("WITH sp AS (SELECT doc_id, regexp_split_to_array(" +
      "replace(replace(text, ' join ', '. join '), " +
      "' merge ', '? merge '), " +
      "'[.!?]+[ \t\n\r]+') AS arr FROM documents), " +
      "e AS (SELECT doc_id, arr, " +
      "unnest(generate_series(1, len(arr))) AS i FROM sp) " +
      "SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx, " +
      "CAST(len(string_split(arr[i], ' ')) AS BIGINT) AS sent_tokens, " +
      "md5(arr[i]) AS sent_md5 FROM e WHERE length(arr[i]) > 0 " +
      "ORDER BY doc_id, sent_idx"))

  val all: Seq[Q] = Seq(
    qDedupExact, qMinhash, qMinhashLsh, qMinhashLshBounded, qMinhashSources,
    qSimhash, qSimhashPairs,
    qSimhashPairs64, qNgramJaccard,
    qDedupClusters, qDedupCorpus, qEmbedCosine, qEmbedLsh, qAnnTopk, qAnnIvf,
    qAnnIvfProbe,
    qLangId, qQualityScore, qTokenCount, qFingerprint, qTfidf,
    qSampleStratified, qSampleWeighted, qPackSequences, qPipelineCorpus,
    qQuantizeInt8, qAnnQuantized, qAnnAsymmetric, qChunkWindows,
    qDecontaminate, qDecontaminate13, qChunkPack, qRedact, qRepetition,
    qNormalizeNfc, qDomainCap, qInvertedIndex, qFuzzyPairs,
    qJaroWinkler, qEntityResolution,
    qCorpusMix, qQualityCut, qFreqBigrams, qTriangleCount,
    qContainment, qPagerank, qCollocations, qClusteringCoef,
    qSamplePriority, qNgramJaccardCapped, qDedupIncremental, qAnnFiltered,
    qDupPassages, qScorePercentile, qTopTerms, qSamplePriorityGrouped,
    qRobustCut, qLabelCentroids,
    qWeightedMedian, qTemperatureMix, qShardAssign,
    qQualityRules, qSourceDrift, qKmeans, qKmeansInertia,
    qClusterCanonical, qHardNegatives,
    qTrainSplit, qLengthBuckets, qDocRarity,
    qPassageDedup, qBloomDecontaminate, qRrfFusion, qBm25, qSemanticDedup, qTripletMine, qProfile, qWinsorize, qLshRecall, qAnnRecall, qDedupSweep, qSourceLengths, qTokenIds, qClusterSizes,
    // round 12: overlapping-span exact-substring dedup + URL domains
    qSpanDedup, qUrlDomain, qWordpiece, qUnigramLm,
    qNgramNovelty, qQualityLogit, qVocabGrowth, qBpeTrain,
    qSemanticDecontaminate, qAnnPq, qPqRecall, qAnnIvfPq, qIvfPqRecall,
    qBpeApply,
    qLeakageSafeSplit, qNoveltyIncremental,
    // round-12 session 2: rank-weighted retrieval eval, corpus-shape
    // diagnostics, CCNet bucketing, JL reduction
    qNdcg, qZipfFit, qPerplexityBucket, qJlProject,
    qTokenizerFertility, qEmbedCovariance, qMmrDiversify, qMooreLewis,
    qFeatureHash, qInterleave, qBigramLm, qSourceOverlap, qSilhouette, qCdcChunks, qDsirWeights, qBlocklist, qDataCard, qMinhashBbit, qLrTrain, qCalibration, qEmbedStandardize, qSimhashRecall, qTokenBudgetCut, qSpanCorrupt, qFim, qScoreNorm, qNegativeSamples, qBlocklistPhrases, qDedupBySource, qMrr,
    qDedupRefresh, qAnnRefresh, qNoveltyRefresh, qMediaDedup, qAnnRetrain,
    qNoveltyCompact, qAudioDedup, qVideoDedup, qMediaDedupRefresh,
    qVideoDedupMulti, qGifDedup, qCrossmodalDedup,
    // round-19 session 2: margin bitext mining, k-NN label
    // propagation, embedding outliers, token entropy
    qBitextMargin, qKnnClassify, qEmbOutliers, qTokenEntropy,
    qBitextMarginIvf,
    // round-19 session 3: crawl-side text processing
    qHtmlExtract, qSentenceSegment)
}
