package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The versioned-segment lifecycle of a durable index artifact — the
  * one copy [[graft.ext.DupGraph]], [[graft.ext.HammingIndex]],
  * [[graft.ext.NoveltyIndex]] and [[graft.ext.AnnIndex]] commit
  * through. An artifact is this spec (kind, format id, segment
  * families) plus its own algorithm; everything below is the spec's.
  *
  * ==Layout==
  * `root/segments/<prefix><N>` are immutable segments, one id family
  * per manifest key; `root/v<N>/manifest` records the build
  * parameters, the format id, each family's live segment list and the
  * last-applied streaming `batchId`; the pointer ([[PointerStore]])
  * names the committed version. Segment ids are deterministic per
  * version, so a crash-retry overwrites exactly its own debris.
  *
  * ==Commit==
  * [[commit]]: [[Staging.nextVersionDir]] (writer lease, clean
  * target) → the stale-handle guard → the segment writes, concurrently
  * ([[Staging.parJobs]]) → manifest → pointer compare-and-swap
  * ([[Staging.commitVersion]]) → segment GC ([[Staging.gcSegments]]).
  * A crash at any point before the swap leaves the previous version
  * intact. [[compact]] is the same commit over a rewrite of the live
  * segments.
  *
  * ==Reading==
  * [[current]] is one pointer read and one manifest read. A version
  * with no manifest, without one of the spec's segment lists, or
  * without this build's format id was not written by this lifecycle
  * and fails loudly: rebuild it.
  */
final class SegmentedArtifact(val kind: String, fmtKey: String, fmt: String,
                              families: Seq[SegmentedArtifact.Family]) {
  import SegmentedArtifact._

  val segKeys: Seq[String] = families.map(_.key)

  def segDir(root: String, sid: String): String = s"$root/segments/$sid"

  /** The committed version at `path`, None before the first commit. */
  def current(path: String,
              store: PointerStore = PointerStore.File): Option[Version] =
    store.current(path).map { n =>
      val mf = Staging.readManifest(Staging.versionDir(path, n))
      val lists = segKeys.filterNot(mf.contains)
      if (mf.isEmpty || lists.nonEmpty)
        sys.error(s"$kind at $path (v$n) has " +
          (if (mf.isEmpty) "no manifest"
           else s"no ${lists.mkString("/")} segment list") +
          " — it predates the segmented layout, the only one this build " +
          "reads. Rebuild the artifact.")
      if (!mf.get(fmtKey).contains(fmt))
        sys.error(s"$kind at $path is written under " +
          s"'${mf.getOrElse(fmtKey, s"<no $fmtKey>")}'; this build speaks " +
          s"'$fmt' — rebuild, do not refresh")
      Version(path, n, mf)
    }

  def open(path: String, store: PointerStore = PointerStore.File): Version =
    current(path, store).getOrElse(
      sys.error(s"no committed $kind at $path (missing LATEST)"))

  /** True iff a complete committed version exists (the pointer is
    * written only after every segment and the manifest are on disk).
    */
  def exists(path: String, store: PointerStore = PointerStore.File): Boolean =
    store.current(path).isDefined

  def lastBatchId(path: String,
                  store: PointerStore = PointerStore.File): Option[Long] =
    current(path, store).flatMap(_.batchId)

  /** Live segment count: the longest of the version's lists. */
  def segCount(c: Version): Int = families.map(f => c.segs(f).size).max

  /** One family's live segments, opened with its layout (bucketed
    * families report their bucket partitioning on read).
    */
  def segments(spark: SparkSession, c: Version, f: Family): Seq[DataFrame] =
    c.segs(f).map { sid =>
      val d = segDir(c.root, sid)
      f.shape match {
        case Bucketed(k) if c.buckets > 0 =>
          readBucketed(spark, d, k, c.buckets)
        case _ => spark.read.parquet(d)
      }
    }

  /** One family's live segments as one plain scan (compaction input). */
  def folded(spark: SparkSession, c: Version, f: Family): DataFrame =
    union(c.segs(f).map(sid => spark.read.parquet(segDir(c.root, sid))))

  /** Commit a new version at `path`. `base` is the committed version a
    * handle was read from when it commits back to the same root: its
    * segment lists carry forward (each `puts` family gains one segment)
    * and every segment it pins must still exist. Without a base, the
    * version lists only the segments written here, and keys of
    * `params` (e.g. a compaction's carried manifest) fill the rest.
    * Bucketed families use the `buckets` value in `params`.
    */
  def commit(path: String, store: PointerStore, retain: Int = 1,
             base: Option[Version] = None, batchId: Option[Long] = None,
             params: Map[String, String],
             puts: Seq[(Family, () => DataFrame)]): Version = {
    val (dir, v) = Staging.nextVersionDir(path, store)
    base.foreach { b =>
      val missing = families.flatMap(b.segs)
        .filterNot(sid => Staging.exists(segDir(path, sid)))
      require(missing.isEmpty,
        s"$kind.write: this handle references segments " +
          s"[${missing.mkString(", ")}] that no longer exist at $path — " +
          "the artifact was compacted or retrained past this reader's " +
          "retention window. Re-read it and re-apply the batch.")
    }
    val buckets = params.get("buckets").fold(0)(_.toInt)
    Staging.parJobs(puts.map { case (f, df) =>
      () => writeSegment(df(), segDir(path, f.id(v)), f.shape, buckets)
    }: _*)
    val lists = families.flatMap { f =>
      val segs = base.fold(Seq.empty[String])(_.segs(f)) ++
        puts.collect { case (`f`, _) => f.id(v) }
      if (segs.isEmpty) None else Some(f.key -> segs.mkString(","))
    }
    val manifest = params ++ lists ++ batchId.map("batchId" -> _.toString) +
      (fmtKey -> fmt)
    Staging.writeManifest(dir, manifest)
    Staging.commitVersion(path, v, retain, store)
    // a swept bucketed segment takes its catalog entry with it
    val bucketed = families.collect { case Family(_, p, Bucketed(_)) => p }
    Staging.gcSegments(path, segKeys, d =>
      if (bucketed.contains(d.split('/').last.takeWhile(!_.isDigit)))
        dropBucketedEntry(SparkSession.active, d), store)
    Version(path, v, manifest)
  }

  /** Fold the live segments back: a no-op when every family already
    * holds at most one segment, unless `force` says the version still
    * needs a rewrite. `rewrite` names the segments to write and
    * `params` the manifest keys to change; everything else carries
    * forward. `retain = 2` when compaction runs in the same fold as an
    * ingest commit, so a reader current at fold start still resolves
    * complete segments.
    */
  def compact(path: String, retain: Int, store: PointerStore,
              params: Map[String, String] = Map.empty,
              force: Version => Boolean = _ => false)
             (rewrite: Version => Seq[(Family, () => DataFrame)]): Unit = {
    val c = open(path, store)
    if (segCount(c) > 1 || force(c))
      commit(path, store, retain, params = c.manifest ++ params,
        puts = rewrite(c))
  }
}

object SegmentedArtifact {

  /** How a family's segments are laid out on disk. */
  sealed trait Shape
  case object Plain extends Shape
  /** Catalog-sized tables: one file, one footer read per open. */
  case object OneFile extends Shape
  /** Hash-bucketed and bucket-sorted on `column`: a join against the
    * stored side needs no Exchange, because Spark's bucket hash is the
    * murmur3 the shuffle uses.
    */
  final case class Bucketed(column: String) extends Shape
  /** Directory-partitioned on `column`, so probes prune unread cells. */
  final case class PartitionedBy(column: String) extends Shape

  /** A segment family: its manifest key, its segment-id prefix, its
    * layout.
    */
  final case class Family(key: String, prefix: String, shape: Shape = Plain) {
    def id(v: Long): String = s"$prefix$v"
  }

  /** A resolved committed version and its manifest. */
  final case class Version(root: String, n: Long,
                           manifest: Map[String, String]) {
    def apply(key: String): String = manifest(key)
    def segs(f: Family): Seq[String] = Staging.segList(manifest, f.key)
    def buckets: Int = manifest.get("buckets").fold(0)(_.toInt)
    def batchId: Option[Long] = manifest.get("batchId").map(_.toLong)
  }

  def union(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_.unionByName(_))

  /** Write one segment. Bucketed and partitioned writes of zero rows
    * emit no data file, which no later read could infer a schema from;
    * such a segment is rewritten as one plain schema-bearing file plus
    * [[EmptyMarker]] — decided from the write's own listing
    * ([[noDataWritten]]), not a pre-write emptiness probe, which would
    * be one more Spark job per commit re-evaluating an unmaterialized
    * input.
    */
  private def writeSegment(df: DataFrame, dir: String, shape: Shape,
                           buckets: Int): Unit = {
    val spark = df.sparkSession
    Staging.deleteTree(dir)
    val data: Option[String => Boolean] = shape match {
      case Bucketed(k) if buckets > 0 =>
        dropBucketedEntry(spark, dir)
        // bucketed writes need a catalog entry: a transient external
        // table whose drop keeps the files (the bucket ids live in the
        // file names). Pre-partitioning with the bucket hash makes each
        // task write one bucket file.
        val tmp = "graft_bktw_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        df.repartition(buckets, col(k)).write.bucketBy(buckets, k).sortBy(k)
          .option("path", dir).saveAsTable(tmp)
        spark.sql(s"DROP TABLE `$tmp`")
        Some(_.startsWith("part-"))
      case PartitionedBy(k) =>
        // one shuffle on the partition column: one file per value per
        // task, not partitions x values small files
        df.repartition(col(k)).write.partitionBy(k).parquet(dir)
        Some(_.startsWith(s"$k="))
      case OneFile => df.coalesce(1).write.parquet(dir); None
      case _ => df.write.parquet(dir); None
    }
    if (data.exists(noDataWritten(dir, Staging.list(dir), _))) {
      Staging.deleteTree(dir)
      df.limit(0).coalesce(1).write.parquet(dir)
      Staging.writeString(s"$dir/$EmptyMarker", "")
    }
  }

  /** The empty-output rule: true iff a finished write's listing holds
    * nothing but `_SUCCESS`. Any entry that is neither a data entry nor
    * `_SUCCESS`, or a listing without `_SUCCESS`, means the output is
    * not understood — throw rather than delete what may be data.
    */
  private[graft] def noDataWritten(dir: String, listing: Seq[String],
                                   isData: String => Boolean): Boolean = {
    val unknown = listing.filterNot(e => isData(e) || e == "_SUCCESS")
    if (unknown.nonEmpty || !listing.contains("_SUCCESS"))
      throw new IllegalStateException(s"segment write at $dir left " +
        (if (unknown.isEmpty) "no _SUCCESS marker"
         else s"unrecognized entries [${unknown.mkString(", ")}]") +
        " — refusing to judge it empty and rewrite it")
    !listing.exists(isData)
  }

  private val EmptyMarker = "_GRAFT_EMPTY"

  private val bucketedLock = new Object
  private def bucketedName(dir: String): String =
    "graft_bkt_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  /** Open a bucketed segment through a catalog entry carrying its
    * bucket spec, so the scan reports HashPartitioning(key, buckets).
    * The entry name is content-addressed by the immutable directory,
    * so an existing entry is always a match and is reused (a drop and
    * re-create would race a concurrent reader); GC drops it with the
    * segment.
    */
  private def readBucketed(spark: SparkSession, dir: String, key: String,
                           buckets: Int): DataFrame =
    bucketedLock.synchronized {
      if (Staging.exists(s"$dir/$EmptyMarker")) spark.read.parquet(dir)
      else {
        val name = bucketedName(dir)
        if (!spark.catalog.tableExists(name)) {
          // CLUSTERED BY needs the column list: take it from the footers
          val ddl = spark.read.parquet(dir).schema.toDDL
          spark.sql(s"CREATE TABLE `$name` ($ddl) USING parquet " +
            s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS " +
            s"LOCATION '$dir'")
        }
        spark.table(name)
      }
    }

  private def dropBucketedEntry(spark: SparkSession, dir: String): Unit =
    bucketedLock.synchronized {
      spark.sql(s"DROP TABLE IF EXISTS `${bucketedName(dir)}`")
      ()
    }
}
