package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{AnnIndex, Dedup, DupGraph, HammingIndex, Multimodal,
  NoveltyIndex, Similarity}

/** Pins the one segmented-artifact lifecycle ([[SegmentedArtifact]])
  * on all four durable artifacts, table-driven: the exists/lastBatchId
  * round trip, the stale-handle guard, the format-id guard on read and
  * compact, and the loud rebuild failure for versions written before
  * the segmented layout. Plus the empty-output rule on synthetic
  * listings.
  */
class SegmentedArtifactSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def docs(ids: Seq[Long]): DataFrame = ids.map(i =>
    (i, s"w${i % 6} w${(i + 1) % 6} w${(i + 2) % 6} w${i % 4} w${i % 9}"))
    .toDF("doc_id", "text")

  private def fps(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, Multimodal.targetFp(i))).toDF("doc_id", "fp")

  private lazy val norms = Similarity.withNorm(
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
    col("vec_id"), col("embedding")).localCheckpoint(false)
  private def vecs(lo: Long, hi: Long): DataFrame =
    norms.filter(col("vec_id") >= lo && col("vec_id") < hi)

  /** One artifact under test. `day1`/`day2` commit batch ids 0/1 (a
    * build, then a refresh of a re-read handle); `hold` reads a handle
    * now and returns its later write-back; `use` forces a read.
    */
  private final case class Row(spec: SegmentedArtifact, fmtKey: String,
                               day1: String => Unit, day2: String => Unit,
                               hold: String => (() => Unit),
                               use: String => Long,
                               compact: String => Unit)

  private val rows = Seq(
    Row(DupGraph.Spec, "hash",
      dir => {
        val g = Dedup.dupGraph(docs(1L to 10L), col("text"), col("doc_id"))
        try g.write(dir, batchId = Some(0L)) finally g.unpersist()
      },
      dir => {
        val g = Dedup.refreshDupGraph(DupGraph.read(spark, dir),
          docs(11L to 20L), col("text"), col("doc_id"))
        try g.write(dir, batchId = Some(1L)) finally g.unpersist()
      },
      dir => { val g = DupGraph.read(spark, dir); () => g.write(dir) },
      dir => DupGraph.read(spark, dir).clusters.count(),
      dir => DupGraph.compact(spark, dir)),
    Row(HammingIndex.Spec, "fmt",
      dir => HammingIndex.build(fps(0L until 12L), maxDist = 3,
        buckets = 8).write(dir, batchId = Some(0L)),
      dir => HammingIndex.read(spark, dir).refresh(fps(12L until 24L))
        .write(dir, batchId = Some(1L)),
      dir => { val h = HammingIndex.read(spark, dir); () => h.write(dir) },
      dir => HammingIndex.read(spark, dir).pairs.count(),
      dir => HammingIndex.compact(spark, dir)),
    Row(NoveltyIndex.Spec, "hash",
      dir => NoveltyIndex.build(docs(1L to 10L), col("text"), col("doc_id"),
        n = 3, buckets = 8).write(dir, batchId = Some(0L)),
      dir => NoveltyIndex.read(spark, dir)
        .update(docs(11L to 20L).withColumn("text",
          concat(col("text"), lit(" fresh"))), col("text"), col("doc_id"))
        .write(dir, batchId = Some(1L)),
      dir => { val i = NoveltyIndex.read(spark, dir); () => i.write(dir) },
      dir => NoveltyIndex.read(spark, dir).seen.count(),
      dir => NoveltyIndex.compact(spark, dir)),
    Row(AnnIndex.Spec, "fmt",
      dir => AnnIndex.train(vecs(0L, 300L), m = 4, subDim = 16,
        lloydIters = 1).write(dir, batchId = Some(0L)),
      dir => AnnIndex.read(spark, dir).refresh(vecs(300L, 400L))
        .write(dir, batchId = Some(1L)),
      dir => { val a = AnnIndex.read(spark, dir); () => a.write(dir) },
      dir => AnnIndex.read(spark, dir).codes.count(),
      dir => AnnIndex.compact(spark, dir)))

  for (r <- rows) {
    val kind = r.spec.kind

    test(s"$kind: exists/lastBatchId round trip; a stale handle refuses " +
        "to commit; a foreign format id fails read and compact") {
      val dir = tmp(s"sa_$kind")
      assert(!r.spec.exists(dir) && r.spec.lastBatchId(dir).isEmpty)
      r.day1(dir)
      assert(r.spec.exists(dir) && r.spec.lastBatchId(dir).contains(0L))
      val stale = r.hold(dir) // pins the v1 segments
      r.day2(dir)
      assert(r.spec.lastBatchId(dir).contains(1L))
      assert(r.spec.segCount(r.spec.open(dir)) == 2)
      r.compact(dir) // v3 folds; v2 still pins the v1 segments
      assert(r.spec.segCount(r.spec.open(dir)) == 1)
      assert(r.spec.lastBatchId(dir).contains(1L), "compact keeps batchId")
      r.hold(dir)() // v4 ages v2 out: the v1 segments are swept
      val e = intercept[IllegalArgumentException](stale())
      assert(e.getMessage.contains("retention"), e.getMessage)
      val before = r.use(dir) // the artifact is untouched and readable

      val c = r.spec.open(dir)
      val vdir = Staging.versionDir(dir, c.n)
      Staging.writeManifest(vdir, c.manifest + (r.fmtKey -> "other/v9"))
      for (op <- Seq[String => Any](r.use, r.compact)) {
        val ef = intercept[RuntimeException](op(dir))
        assert(ef.getMessage.contains("other/v9") &&
          ef.getMessage.contains("rebuild"), ef.getMessage)
      }
      Staging.writeManifest(vdir, c.manifest)
      assert(r.use(dir) == before)
    }

    test(s"$kind: a manifest-less or pre-segment version fails read and " +
        "compact with the rebuild message") {
      val dir = tmp(s"sa_legacy_$kind")
      r.day1(dir)
      val c = r.spec.open(dir)
      val vdir = Staging.versionDir(dir, c.n)
      // pre-segment: build parameters and format id, no segment lists
      Staging.writeManifest(vdir, c.manifest -- r.spec.segKeys)
      // manifest-less: the pre-manifest layout
      val bare = tmp(s"sa_bare_$kind")
      Staging.writeString(s"$bare/v1/index/part-0.parquet", "")
      Staging.writeString(s"$bare/LATEST", "1")
      for (d <- Seq(dir, bare); op <- Seq[String => Any](r.use, r.compact)) {
        val e = intercept[RuntimeException](op(d))
        assert(e.getMessage.contains("Rebuild"), e.getMessage)
      }
    }
  }

  test("empty-output rule: only a listing of nothing but _SUCCESS is " +
      "empty; an unknown entry or a missing marker throws") {
    val part: String => Boolean = _.startsWith("part-")
    val e0 = intercept[IllegalStateException](
      SegmentedArtifact.noDataWritten("d", Seq.empty, part))
    assert(e0.getMessage.contains("_SUCCESS"), e0.getMessage)
    assert(SegmentedArtifact.noDataWritten("d", Seq("_SUCCESS"), part))
    assert(!SegmentedArtifact.noDataWritten("d",
      Seq("_SUCCESS", "part-00000-x_00000.c000.snappy.parquet"), part))
    assert(!SegmentedArtifact.noDataWritten("d",
      Seq("_SUCCESS", "icell=3"), _.startsWith("icell=")))
    val e = intercept[IllegalStateException](
      SegmentedArtifact.noDataWritten("d",
        Seq("_SUCCESS", "part-0.parquet", "magic-0.pending"), part))
    assert(e.getMessage.contains("magic-0.pending"), e.getMessage)
  }
}
