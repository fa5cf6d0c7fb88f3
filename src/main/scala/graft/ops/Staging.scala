package graft.ops

import java.net.URI

import scala.collection.immutable.ListMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Shared filesystem plumbing for the staged-promote and
  * versioned-pointer write disciplines (one audited copy — the durable
  * index artifacts through [[SegmentedArtifact]], PretrainDemo's shard
  * promote, and the fixture tools all route through here;
  * crash-safety code that exists twice drifts).
  *
  * ==Portability contract==
  * All paths go through the Hadoop `FileSystem`/`FileContext` API, so
  * the same code runs against `file://` (tests, single node), HDFS,
  * and object stores — with these documented semantics:
  *
  *  - '''local / HDFS''': `rename` is atomic, so both [[promote]]'s
  *    per-table move and [[commitVersion]]'s pointer swap
  *    (tmp-file + rename-with-OVERWRITE via `FileContext`) give the
  *    advertised guarantee: a reader sees the old pointer or the new
  *    one, never a torn or missing pointer.
  *  - '''S3A / object stores''': rename is copy+delete (NOT atomic).
  *    The versioned-pointer discipline still degrades safely — the
  *    pointer is a single small object, version dirs are never
  *    mutated in place, and a reader that races the swap sees the OLD
  *    complete version — but the swap itself is not a filesystem
  *    atomicity guarantee there; deployments needing hard atomic
  *    publish on S3 pass a [[PointerStore.Jdbc]] (a transactional
  *    compare-and-swap commit log — the pluggable [[PointerStore]]
  *    every pointer operation and artifact lifecycle accepts) so only
  *    immutable version dirs and segments live on the blob store.
  *    [[promote]]'s delete-then-rename is weaker still on S3 (a crash
  *    can lose the target); prefer [[writeVersioned]]-style pointers
  *    there.
  *
  * The Hadoop conf comes from the active `SparkSession` when one
  * exists (so `fs.s3a.*` etc. flow through), else a bare
  * `Configuration` (local FS).
  */
object Staging {

  private def conf: Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** Run independent commit jobs concurrently (segment/catalog writes):
    * an artifact commit's ladder is serial by default and its FIXED
    * latency — not data volume — bounds streaming ingest frequency.
    * Safe for jobs whose shared inputs are already materialized
    * (persisted/checkpointed frames; concurrent first-materialization
    * of a shared lazy checkpoint is serialized by Spark's
    * checkpoint-state and block locks). First failure propagates after
    * all threads finish (no half-started debris left running).
    */
  def parJobs(jobs: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = jobs.map(j => new Thread(() => {
      try j() catch { case t: Throwable => errs.add(t); () }
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  /** Recursively delete a path (no-op if absent). */
  def deleteTree(s: String): Unit = {
    val p = new Path(s)
    val f = fs(p)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** java.nio convenience overload (ETL call sites hold nio paths). */
  def deleteTree(p: java.nio.file.Path): Unit = deleteTree(p.toString)

  def exists(s: String): Boolean = { val p = new Path(s); fs(p).exists(p) }

  /** Child entry names of a directory (empty if absent) — artifact
    * writers use this to sweep unreferenced segment/version dirs.
    */
  def list(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Read a small whole file as UTF-8 (the pointer / manifest size
    * class — never data).
    */
  def readString(s: String): String = {
    val p = new Path(s)
    val in = fs(p).open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Write a small whole file (overwrite). NOT atomic on its own — for
    * pointers, write to a tmp name and [[atomicRename]] over.
    */
  def writeString(s: String, content: String): Unit = {
    val p = new Path(s)
    val out = fs(p).create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Rename with overwrite via `FileContext` — atomic on local/HDFS
    * (see the portability contract above for object stores).
    */
  def atomicRename(src: String, dst: String): Unit = {
    val s = new Path(src)
    val fc = FileContext.getFileContext(
      Option(s.toUri.getScheme).fold(FileSystem.getDefaultUri(conf))(_ =>
        s.toUri: URI), conf)
    fc.rename(s, new Path(dst), Options.Rename.OVERWRITE)
  }

  /** Promote staged tables into place: per table, delete the previous
    * target and rename `root/.staging/t` → `root/t`; then drop the
    * now-empty staging dir. Atomic PER TABLE on local/HDFS, ordered
    * across tables — the documented weaker-than-ACID guarantee: a
    * crash between moves leaves a mixed set, so use the
    * versioned-pointer commit when readers must never observe a torn
    * multi-table artifact.
    */
  def promote(root: String, tables: Seq[String]): Unit = {
    tables.foreach { t =>
      deleteTree(s"$root/$t")
      val src = new Path(s"$root/.staging/$t")
      require(fs(src).rename(src, new Path(s"$root/$t")),
        s"promote: rename failed for staged table '$t' under $root")
    }
    // tree-delete, not delete-if-empty: anything staged but NOT in
    // `tables` (a stray _SUCCESS, a table the caller chose not to
    // promote) is discarded by contract
    deleteTree(s"$root/.staging")
  }

  // --------------------------------------------------- writer lease
  // Single-writer-per-artifact used to be purely the deployment's job
  // (one maintainer stream per artifact); the lease makes it
  // ENFORCEABLE: two uncoordinated writers could both pass
  // [[nextVersionDir]], clobber each other's version dir pre-publish,
  // and the winning pointer could name a dir the loser partially
  // rewrote — the loser only failed at publish time. With a lease the
  // loser fails BEFORE staging a byte.

  /** Default writer-lease TTL: comfortably above a worst-case fold
    * (the lease is re-extended at every [[nextVersionDir]], i.e. at
    * least once per commit of a multi-commit fold) and above realistic
    * cross-host clock skew. A crashed holder blocks other writers for
    * at most this long.
    */
  val DefaultLeaseTtlMs: Long = 15L * 60 * 1000

  /** Leases this process holds, by root — [[nextVersionDir]] consults
    * it to RE-EXTEND the holder's lease on every staging (and to fail
    * loudly if the lease was lost to an expiry steal mid-fold). One
    * entry per root: within a process the registry treats the process
    * as one writer (in-process callers share the SparkSession and are
    * coordinated by construction; the two-writer hazard is
    * cross-process).
    */
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[String, WriterLease]()

  /** A held writer lease on `root` ([[Staging.acquireWriter]]). */
  final class WriterLease private[ops] (val root: String,
                                            val owner: String,
                                            val store: PointerStore,
                                            val ttlMs: Long) {
    /** Re-assert (and extend) the lease; throws if it was lost — an
      * expiry steal mid-fold means another writer may already be
      * staging, so continuing to write would recreate the exact
      * clobber window the lease exists to close.
      */
    def renew(): Unit =
      if (!store.tryLease(root, owner, ttlMs))
        throw new IllegalStateException(
          s"writer lease on $root was lost (expired and reclaimed by " +
            s"${store.lease(root).fold("<gone>")(_._1)}) — another " +
            "writer may be staging; abandon this fold and re-read the " +
            "artifact. If folds legitimately run longer than " +
            s"${ttlMs}ms, acquire with a larger ttlMs.")

    def release(): Unit = {
      store.releaseLease(root, owner)
      heldLeases.remove(root, this)
      ()
    }
  }

  /** Acquire the writer lease on `root` (throws loudly if another
    * writer holds it — the two-writer race's loser fails HERE, before
    * any version dir is staged). Hold across the fold, [[WriterLease.release]]
    * in a finally; [[nextVersionDir]] re-extends it at every commit.
    * Lease strength follows the store ([[PointerStore]]: JDBC = hard
    * CAS, File = best-effort lock file). All writers of an artifact
    * must share one store — a lease in store A is invisible to a
    * writer using store B, exactly like the pointer itself.
    */
  def acquireWriter(root: String, store: PointerStore = PointerStore.File,
                    ttlMs: Long = DefaultLeaseTtlMs): WriterLease = {
    val owner = java.util.UUID.randomUUID().toString
    if (!store.tryLease(root, owner, ttlMs))
      throw new IllegalStateException(
        s"another writer holds the lease on $root " +
          s"(${store.lease(root).fold("<gone>") { case (o, e) =>
            s"owner $o, expires in ${e - System.currentTimeMillis()}ms" }}) " +
          "— single-writer-per-artifact is the commit discipline; run " +
          "ONE maintainer per artifact, or wait for the holder to " +
          "release/expire.")
    val l = new WriterLease(root, owner, store, ttlMs)
    heldLeases.put(root, l)
    l
  }

  /** The staging guard behind [[nextVersionDir]]: re-extend this
    * process's held lease (loud failure if lost), or — when this
    * process holds none — refuse while ANOTHER writer's unexpired
    * lease exists, so even a writer that skipped [[acquireWriter]]
    * cannot clobber a leased fold's staging dir. No lease anywhere =
    * lease-less single-writer mode (the pre-lease behavior, still the
    * default for self-contained lifecycle queries and tests).
    */
  private def assertWritable(root: String, store: PointerStore): Unit =
    Option(heldLeases.get(root)) match {
      // the registry is authoritative for this process: whatever store
      // instance the commit call carries, the held lease renews through
      // the store it was ACQUIRED from (a second instance of the same
      // backend must not be mistaken for another writer)
      case Some(held) => held.renew()
      case None =>
        store.lease(root)
          .filter(_._2 > System.currentTimeMillis())
          .foreach { case (o, e) =>
            throw new IllegalStateException(
              s"nextVersionDir: writer lease on $root is held by '$o' " +
                s"(expires in ${e - System.currentTimeMillis()}ms) and " +
                "this process does not hold it — refusing to stage a " +
                "version dir over a live writer's fold. Acquire the " +
                "lease (Staging.acquireWriter) or wait for release/" +
                "expiry.")
          }
    }

  /** Versioned-pointer commit: the caller writes a complete artifact
    * under `root/v<N+1>` (via the directory this returns), then
    * [[commitVersion]] swings `root/LATEST` to it. Readers resolve
    * through the pointer, so a crash at ANY point before the pointer
    * swap leaves the previous version fully intact and discoverable —
    * no mixed-version window, unlike [[promote]].
    *
    * Writer exclusion: refuses while another holder's unexpired lease
    * exists, and re-extends this process's own lease
    * ([[assertWritable]]) — the loser of a two-writer race fails here,
    * before staging.
    */
  def nextVersionDir(root: String,
                     store: PointerStore = PointerStore.File): (String, Long) = {
    assertWritable(root, store)
    val n = currentVersion(root, store).getOrElse(0L) + 1L
    val dir = s"$root/v$n"
    // Crash-retry safety: a writer that died AFTER laying files under
    // v<N+1> but BEFORE the pointer swap leaves this exact dir
    // non-empty, and a restarted writer gets the SAME dir back (LATEST
    // never moved). Stale files must go first — table writers are not
    // uniformly tolerant of a dirty target (bucketed CTAS refuses a
    // non-empty location outright; with the legacy flag it would
    // silently double rows instead). Uncommitted-by-definition, so the
    // delete can never touch a published version.
    deleteTree(dir)
    (dir, n)
  }

  /** The committed version of `root` per its pointer store — the
    * file-backed `LATEST` by default; pass a [[PointerStore.Jdbc]] on
    * object stores (see [[PointerStore]] for the atomicity contract).
    */
  def currentVersion(root: String,
                     store: PointerStore = PointerStore.File): Option[Long] =
    store.current(root)

  def versionDir(root: String, n: Long): String = s"$root/v$n"

  /** Publish version `n` (tmp-file + rename-with-overwrite of the
    * pointer — atomic on local/HDFS), then best-effort GC of
    * superseded version dirs.
    *
    * ==Reader lifetime contract==
    * `retain` (default 1) keeps that many SUPERSEDED versions on disk
    * in addition to `n`: a reader that resolved `LATEST → vN` and is
    * still lazily scanning survives the next `retain` commits; only a
    * reader holding a version `retain+1` commits stale can hit a
    * deleted file. Pass `retain = 0` for the eager single-version
    * footprint (safe only when no reader outlives one commit cycle),
    * or a larger K for long-lived consumers / time travel.
    *
    * GC cost is O(deleted), not O(n): the sweep starts at the newest
    * version past the retention window and walks DOWN until the first
    * already-missing dir — every older dir was deleted by an earlier
    * commit (a crash mid-GC can strand dirs below a hole; they are
    * unreferenced, never a broken reader, and segment artifacts
    * reclaim them on the next [[gcSegments]] sweep so a stranded
    * manifest cannot pin segments forever).
    */
  def commitVersion(root: String, n: Long, retain: Int = 1,
                    store: PointerStore = PointerStore.File): Unit = {
    require(retain >= 0, s"retain must be >= 0, got $retain")
    // Re-assert the lease at the PUBLISH too, not only at staging: a
    // fold whose LAST action is this publish has no later staging to
    // catch a mid-fold TTL-expiry steal — without this check the
    // original holder could swing the pointer onto a dir the
    // reclaiming writer is already restaging (the torn-version window
    // the lease exists to close, reopened at its final step).
    assertWritable(root, store)
    store.publish(root, n)
    var v = n - retain - 1
    while (v >= 1 && exists(versionDir(root, v))) {
      deleteTree(versionDir(root, v))
      v -= 1
    }
  }

  /** Sweep `root/segments/` entries referenced by NO version manifest
    * inside the retention window — the GC half of
    * [[SegmentedArtifact.commit]] (immutable segments under
    * `root/segments/`, version manifests listing the live ones by
    * id). `segKeys` names the manifest keys carrying comma-separated
    * segment-id lists; `onDelete` runs per swept dir (e.g.
    * bucketed-catalog cleanup). Runs after a commit: a reader inside
    * the retention window is safe because its version's manifest still
    * pins its segments. Cost is O(segments), metadata-only.
    *
    * The retention window is derived from what [[commitVersion]]'s own
    * sweep LEFT ON DISK, not from an independent retain default: a
    * successful commit always leaves a CONTIGUOUS run of version dirs
    * ending at `LATEST` (whatever `retain` the writer chose), and its
    * downward GC walk stops at the first hole — so any version dir
    * sitting BELOW a hole was stranded by a crash mid-GC and is
    * unreferenced by contract. Those stranded dirs are deleted here
    * and their manifests pin nothing, so a crash can never leak
    * segments forever; deliberately retained versions (any
    * `commitVersion(…, retain = K)`) are above the hole and keep
    * pinning theirs. An UNREADABLE manifest inside the live run aborts
    * the sweep conservatively (nothing is deleted, the commit that
    * triggered the GC still succeeds): the loud [[readManifest]]
    * failure is right when a reader depends on that version, but a
    * write to THIS artifact does not, and wedging every future commit
    * on one bit-rotted old manifest would turn a disk fault into a
    * total write outage.
    */
  def gcSegments(root: String, segKeys: Seq[String],
                 onDelete: String => Unit = _ => (),
                 store: PointerStore = PointerStore.File): Unit = {
    val latest = currentVersion(root, store).getOrElse(return)
    val present = list(root).filter(_.matches("v\\d+"))
    val have = present.map(_.drop(1).toLong).toSet
    // a LATEST pointing at a missing dir (stale/corrupt pointer — the
    // documented non-atomic object-store rename window, or manual ops)
    // would make hole == latest and classify EVERY present version as
    // stranded; degrade to no-GC instead of amplifying a pointer fault
    // into total artifact destruction
    if (!have(latest)) return
    var hole = latest
    while (have(hole)) hole -= 1
    val (live, stranded) = present.partition(_.drop(1).toLong > hole)
    val manifests = live.map(vd => scala.util.Try(readManifest(s"$root/$vd")))
    if (manifests.exists(_.isFailure)) return // conservative: sweep later
    stranded.foreach(vd => deleteTree(s"$root/$vd"))
    val referenced = manifests.map(_.get).flatMap { mf =>
      segKeys.flatMap(k => segList(mf, k))
    }.toSet
    list(s"$root/segments").filterNot(referenced).foreach { sid =>
      val d = s"$root/segments/$sid"
      deleteTree(d)
      onDelete(d)
    }
  }

  /** Parse a manifest's comma-separated segment-id list — THE one
    * decoding of the segment-list encoding (GC, compaction, readers,
    * and the streaming maintainers' segment counts must all agree on
    * what "the live segments" are; seven call sites sharing one parse
    * is what guarantees it).
    */
  def segList(mf: Map[String, String], key: String): Seq[String] =
    mf.get(key).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)

  /** Write a `manifest` file of key=value lines inside a version dir —
    * the parameters an artifact was built with (shingle width,
    * threshold, bucket count, last-applied batch id, …), so a day-2
    * refresh can validate or default against them instead of silently
    * mixing incompatible spaces. One line per key, keys sorted, no
    * JSON dependency.
    */
  def writeManifest(dir: String, kv: Map[String, String]): Unit = {
    require(kv.keys.forall(k => !k.contains('=') && !k.contains('\n')) &&
      kv.values.forall(v => !v.contains('\n')),
      s"manifest keys/values must be single-line, '=' -free keys: $kv")
    writeString(s"$dir/manifest",
      kv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n"))
  }

  /** Read a manifest written by [[writeManifest]]; empty map if the
    * version has none.
    */
  def readManifest(dir: String): Map[String, String] = {
    val p = s"$dir/manifest"
    if (!exists(p)) Map.empty
    else ListMap(readString(p).split('\n').filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      // manifests are always self-written ([[writeManifest]] rejects
      // '='-free keys), so a line without '=' means corruption or
      // truncation — fail loudly instead of degrading to a "" key that
      // silently feeds bogus defaults into refresh validation
      require(i >= 0, s"malformed manifest line in $p: '$line'")
      line.take(i) -> line.drop(i + 1)
    }.toSeq: _*)
  }
}
