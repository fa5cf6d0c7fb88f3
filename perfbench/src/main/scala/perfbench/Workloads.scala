package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Export, FileTree, Import}
import graft.model.Manifests.CollectionExport
import graft.model.Tables

/** Where a workload reads its inputs and writes its scratch. */
final case class Ctx(data: String, work: String, seed: Long)

/** A closed-loop workload: one client thread runs passes over a fixed
  * set of ops; the seed only orders or slices the inputs.
  */
trait Workload {
  /** Input preparation, repeated by every set-up. */
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed work run once after set-up, before the first timed op. */
  def warmup(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, rec: Recorder, p: Int, traced: Boolean): Unit
  /** Records, after the timed loop, what the runner's output check needs
    * beyond each op's own attributes.
    */
  def record(spark: SparkSession, ops: Seq[Op]): Unit = ()
  def info: Map[String, Any] = Map.empty
}

object QueryWorkload {
  /** Every 32nd registry query by name plus the artifact refresh rows
    * (DupGraph and NoveltyIndex commits, StreamingHamming folds).
    */
  val Names: Seq[String] = Seq("q_agg_salted", "q_cluster_canonical",
    "q_dedup_refresh", "q_ewma", "q_media_dedup_refresh", "q_ngram_jaccard",
    "q_novelty_refresh", "q_streaks", "q_window_tumbling")
}

/** Registry queries over a testdata-layout directory: each op builds
  * the query and writes its full result as parquet, then a consumer
  * reads it back. Result digests are checked by the runner.
  */
final class QueryWorkload(ctx: Ctx) extends Workload {
  import QueryWorkload.Names

  private def run(spark: SparkSession, rec: Recorder, n: String, p: Int,
                  dir: String, traced: Boolean): Unit = {
    val path = s"$dir/$n"
    rec.op(n, p, traced) {
      val df = rec.span("build")(graft.SparkEntry.queries(n)(spark, ctx.data))
      rec.span("write")(df.write.mode("overwrite").parquet(path))
      rec.rows(rec.span("read")(spark.read.parquet(path).count()))
      rec.attr("out", path)
    }
  }

  /** One cold pass over the same queries, in its own seed order: the
    * timed passes then run with compiled code and a warm JVM.
    */
  override def warmup(spark: SparkSession): Unit = {
    val rec = new Recorder(spark, None)
    new Random(ctx.seed * 7919L - 1).shuffle(Names)
      .foreach(run(spark, rec, _, -1, s"${ctx.work}/warmup", traced = false))
    rec.ops.flatMap(_.error).foreach(e => sys.error(s"warm-up failed: $e"))
  }

  def pass(spark: SparkSession, rec: Recorder, p: Int, traced: Boolean): Unit =
    new Random(ctx.seed * 7919L + p).shuffle(Names)
      .foreach(run(spark, rec, _, p, s"${ctx.work}/out/p$p", traced))
}

/** The paper's release pipeline: export (find_first by chain priority,
  * dimensions, region expansion), the symlink file tree, then the
  * staged import — one release per op, [[EtlWorkload.Releases]] per
  * pass, over a seed-shuffled datastore.
  */
object EtlWorkload {
  val Releases = 4
}

final class EtlWorkload(ctx: Ctx) extends Workload {
  private val root = s"${ctx.work}/etl"
  private val collections = Seq(
    CollectionExport("root", "CHAINED", Seq("runs/final", "runs/initial")),
    CollectionExport("runs/final", "TAGGED", Nil),
    CollectionExport("runs/initial", "TAGGED", Nil))
  private var datastoreRows = 0L

  /** The release inputs (refs and datastore records, in seed-shuffled
    * row order) are written by the runner before the JVM starts.
    */
  override def prepare(spark: SparkSession): Unit =
    datastoreRows = spark.read.parquet(s"$root/input/datastore").count()

  /** One release of the same input: the release's own plans compile
    * and its code paths warm before the measured releases.
    */
  override def warmup(spark: SparkSession): Unit = {
    val rec = new Recorder(spark, None)
    release(spark, rec, 0, s"$root/input", s"${ctx.work}/warmup", traced = false)
    rec.ops.flatMap(_.error).foreach(e => sys.error(s"warm-up failed: $e"))
  }

  def pass(spark: SparkSession, rec: Recorder, p: Int, traced: Boolean): Unit =
    (0 until EtlWorkload.Releases).foreach(r =>
      release(spark, rec, p, s"$root/input", s"$root/p$p/r$r", traced))

  private def release(spark: SparkSession, rec: Recorder, p: Int, input: String,
                      dir: String, traced: Boolean): Unit = {
    val exportDir = s"$dir/export"
    val target = s"$dir/target"
    rec.op("release", p, traced) {
      rec.span("export")(Export.run(exportDir,
        types = Seq(Export.DatasetTypeInput("raw", "Exposure",
          spark.read.parquet(s"$input/refs"), Seq("order_id"),
          findFirst = true)),
        dimensions = Seq(
          Export.DimensionInput("customer",
            Tables.load(spark, ctx.data, "customer"), Seq("c_custkey")),
          Export.DimensionInput("nation",
            Tables.load(spark, ctx.data, "nation"), Seq("n_nationkey"))),
        datastore = spark.read.parquet(s"$input/datastore"),
        collections = collections, rootCollection = "root",
        expansions = Seq(Export.DimensionExpansion(
          sourceDimension = "nation", sourceKeys = Seq("n_regionkey"),
          target = Export.DimensionInput("region",
            Tables.load(spark, ctx.data, "region")
              .withColumnRenamed("r_regionkey", "n_regionkey"),
            Seq("n_regionkey")),
          targetJoinColumns = Seq("n_regionkey")))))
      val plan = rec.span("tree_plan")(FileTree.plan(
        spark.read.parquet(s"$exportDir/datastore"), "path",
        sourceRoot = s"$root/source", remap = Nil))
      val links = spark.sparkContext.longAccumulator("links")
      rec.span("tree_exec")(FileTree.execute(plan, s"$dir/tree", Some(links)))
      val report = rec.span("import")(Import.run(spark, exportDir, target,
        requestedTypes = Seq("raw"),
        dimensionKeys = Map("customer" -> Seq("c_custkey"),
          "nation" -> Seq("n_nationkey"), "region" -> Seq("n_regionkey")),
        dimensionDeps = Map("customer" -> Seq("nation"),
          "nation" -> Seq("region"), "region" -> Nil)))
      val imported = rec.span("read")(
        spark.read.parquet(s"$target/datasets/raw").count())
      rec.rows(datastoreRows)
      rec.attr("links", links.value.longValue)
      rec.attr("imported", imported)
      rec.attr("report", Map(
        "dimensions" -> report.dimensionsInserted,
        "datasets" -> report.datasetRows,
        "associated" -> report.associated,
        "certified" -> report.certified,
        "datastore_groups" -> report.datastoreGroups))
      rec.attr("export", exportDir)
    }
  }

  /** Each release's exported ref counts; the runner compares them with
    * the counts DuckDB computed from the inputs.
    */
  override def record(spark: SparkSession, ops: Seq[Op]): Unit =
    ops.filter(_.error.isEmpty).foreach { o =>
      val raw = spark.read.parquet(s"${o.attrs("export")}/datasets/raw")
      o.attrs("refs") = raw.count()
      o.attrs("final_winners") =
        raw.filter(col("dataset_id").startsWith("f-")).count()
    }

  override def info: Map[String, Any] = Map("datastore_rows" -> datastoreRows)
}
