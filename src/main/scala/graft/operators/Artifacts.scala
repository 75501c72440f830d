package graft.operators

import java.util.concurrent.{CompletableFuture, CompletionException}

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The artifact store every corpus-version-keyed materialized
  * artifact (cluster tables, pair tables, IVF centroids, PQ codebooks,
  * hierarchical models, BPE merges) lands in: the staleness stamp,
  * the deterministic path, one single-flight build per key and one
  * commit protocol, the manifest. A new session or a rewritten corpus
  * recomputes; nothing else does.
  *
  * The commit, on every filesystem: the data is built into an
  * immutable, uniquely named `<name>__v_<uuid>` directory, then a
  * one-file `<name>.manifest` naming it is published with an
  * exclusive create. Readers only ever follow the manifest, so a
  * directory mid-build is never named and never read. A racing
  * writer whose create loses serves the version the manifest names
  * and deletes its own. Where create-if-absent is a check-then-create
  * (local fs, object stores) a race that interleaves inside that
  * window degrades to last-put-wins over two complete versions; the
  * unreferenced one is `gc`'s to reap.
  */
private[operators] object Artifacts {

  /** Staleness stamp via Hadoop's FileSystem (mtime + content
    * summary) — works on any Hadoop path (hdfs://, s3a://, local),
    * and the content summary catches a same-name in-place rewrite
    * that leaves the directory mtime untouched.
    */
  def corpusStamp(spark: SparkSession, src: String): String = {
    val p = new Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val cs = fs.getContentSummary(p)
      s"${fs.getFileStatus(p).getModificationTime}-${cs.getLength}-${cs.getFileCount}"
    }
  }

  /** The ONE owner of the artifact-volume location (conf key +
    * default) — `path` and `gc` must agree on the directory or the
    * sweep would silently reap nothing.
    */
  private[operators] def artifactBase(spark: SparkSession): String =
    spark.conf.get("spark.graft.artifactDir",
      s"${graft.GraftSession.scratchRoot}/artifacts")

  /** Deterministic artifact location under `spark.graft.artifactDir`
    * (any Hadoop-writable path on a cluster; local scratch default).
    */
  def path(spark: SparkSession, prefix: String, key: String): String =
    artifactBase(spark).stripSuffix("/") + "/" + prefix + "_" +
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(key).toLong & 0xffffffffL)

  /** Artifact sharing scope: `app` (default) keys every artifact by
    * applicationId — each driver builds and serves its own copies, so
    * a code change between sessions can never serve a stale artifact
    * built by older logic (the safe mode while the engine itself is
    * evolving). `shared` drops the applicationId: drivers sharing
    * `spark.graft.artifactDir` REUSE each other's artifacts for the
    * same (prefix, dir, corpus stamp) — the production mode for a
    * fleet running ONE engine version, on any filesystem.
    */
  val ScopeKey = "spark.graft.artifactScope"

  private def scope(spark: SparkSession): String =
    if (spark.conf.get(ScopeKey, "app") == "shared") "shared"
    else spark.sparkContext.applicationId

  /** Served dir per (prefix, key): one in-flight build per key. */
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, String), CompletableFuture[String]]

  /** Analyzed-frame memo for immutable (content-stamped) artifact
    * paths — metadata reuse only; see the load site below. Keyed on
    * the session OBJECT with stopped-context eviction (r20 hardening,
    * same rationale as [[graft.SessionMemo]]'s scaladoc).
    */
  private val loadedFrames = new graft.SessionMemo[String, DataFrame]

  /** Once-per-(process, artifact-version) post-load validation guard
    * for [[materializedClustered]]'s `validate` hook — keyed by the
    * stamped key, so a new corpus version re-validates and a repeated
    * serve call never re-pays the check (width integrity belongs at
    * artifact LOAD, not per query run). One future per key: the build
    * memo's winner-installs / losers-join pattern, so validation runs
    * exactly once per key and every concurrent loader waits for it.
    */
  private val validated =
    new java.util.concurrent.ConcurrentHashMap[String, CompletableFuture[Unit]]()

  /** Join a winner's future rethrowing the ORIGINAL failure: a bare
    * `join()` wraps it in CompletionException, so a loser racing a
    * failed build/validation would observe a different exception TYPE
    * than the winner (callers intercepting the saturation gate's
    * IllegalStateException must see it on both sides of the race).
    */
  private def joinRaw[T](f: CompletableFuture[T]): T =
    try f.join()
    catch { case e: CompletionException if e.getCause != null => throw e.getCause }

  /** The one build path of the store: at most one build per
    * (prefix, key) in this JVM, committed through the manifest, and
    * the served data dir returned. `write` receives the fresh version
    * dir and lands the artifact there. Same-key callers wait for the
    * one builder; DISTINCT keys build concurrently; a failed build
    * removes its latch so a later call can retry.
    */
  private[operators] def materialize(spark: SparkSession, prefix: String,
      key: String)(write: String => Unit): String = {
    val fresh = new CompletableFuture[String]()
    memo.putIfAbsent((prefix, key), fresh) match {
      case Some(inFlight) => joinRaw(inFlight)
      case None =>
        try {
          val served = commitManifest(spark, path(spark, prefix, key), key)(write)
          fresh.complete(served)
          served
        } catch {
          case e: Throwable =>
            fresh.completeExceptionally(e)
            memo.remove((prefix, key), fresh)
            throw e
        }
    }
  }

  /** The materialize-once discipline every corpus-version artifact
    * (document clusters, media clusters, passage pairs) follows:
    * build `frame` ONCE per (prefix, scope, dir, corpus stamp), land
    * it as parquet clustered on `clusterCols` (Layout.writeClustered —
    * downstream per-key scans hit tight row groups) through
    * [[materialize]], and serve every subsequent call from the scan.
    * Keyed by the corpus stamp, so a rewritten corpus recomputes and
    * results can never go stale against the driver's gate or planted
    * spec fixtures.
    */
  def materializedClustered(spark: SparkSession, prefix: String, dir: String,
      stampSrc: String, clusterCols: Seq[String],
      validate: DataFrame => Unit = _ => ())(frame: => DataFrame): DataFrame = {
    val key = s"$prefix|${scope(spark)}|$dir|${corpusStamp(spark, s"$dir/$stampSrc")}"
    val p = materialize(spark, prefix, key)(
      graft.sources.Layout.writeClustered(frame, _, clusterCols))
    // artifact paths are content-stamped (immutable per key), so the
    // ANALYZED frame memoizes per (session, path) — re-resolving the
    // datasource (file listing + footer reads) on every serve call
    // was driver-side wall on every artifact consumer's every run;
    // the scan still reads the artifact parquet per action
    val out = loadedFrames.getOrCompute(spark, p)(spark.read.parquet(p))
    // complete the future only AFTER validate succeeds, and REMOVE it
    // on failure: a thrown validation must re-run on the next load,
    // or a broken artifact would be cached as "validated" and served
    // unchecked for the process's lifetime (the checkWidth=false
    // serve paths trust this guard). A concurrent loser joins the
    // winner's future — it never reads past a mid-flight validate.
    val vf = new CompletableFuture[Unit]()
    validated.putIfAbsent(key, vf) match {
      case null =>
        try { validate(out); vf.complete(()) }
        catch {
          case e: Throwable =>
            vf.completeExceptionally(e)
            validated.remove(key, vf)
            throw e
        }
      case winner => joinRaw(winner)
    }
    out
  }

  // ---------------------------------------------------------------
  // The manifest commit
  // ---------------------------------------------------------------

  private[operators] def manifestFor(out: String): Path = new Path(out + ".manifest")

  private def parentOf(p: Path): Path =
    if (p.getParent == null) new Path("/") else p.getParent

  /** Parse a manifest's (referenced dir name, key) — None when absent
    * or unreadable (a partial manifest read maps to ABSENT, never to a
    * partial artifact).
    */
  private def readManifest(fs: FileSystem, mf: Path): Option[(String, String)] =
    try {
      if (!fs.exists(mf)) None
      else {
        val in = fs.open(mf)
        val buf = new java.io.ByteArrayOutputStream()
        try org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        finally in.close()
        new String(buf.toByteArray, "UTF-8").split('\n') match {
          case Array(dirName, key, _*) if dirName.nonEmpty => Some((dirName, key))
          case _ => None
        }
      }
    } catch { case _: java.io.IOException => None }

  /** Resolve the deterministic path's manifest to its COMPLETE
    * referenced dir — the only way a reader ever reaches artifact
    * data, which is the protocol's safety argument: a dir mid-build
    * (or a race loser) is simply never named.
    */
  private[operators] def resolveManifest(fs: FileSystem, dest: Path): Option[Path] =
    readManifest(fs, manifestFor(dest.toString)).flatMap { case (dirName, _) =>
      val dir = new Path(parentOf(dest), dirName)
      if (fs.exists(new Path(dir, "_SUCCESS"))) Some(dir) else None
    }

  /** [[resolveManifest]], waiting out a racer's create→close window
    * (a manifest that exists but is still empty) for up to 2 s.
    */
  private def awaitManifest(fs: FileSystem, dest: Path): Option[Path] = {
    var resolved = resolveManifest(fs, dest)
    var waited = 0L
    while (resolved.isEmpty && waited < 2000L && fs.exists(manifestFor(dest.toString))) {
      Thread.sleep(100L); waited += 100L
      resolved = resolveManifest(fs, dest)
    }
    resolved
  }

  /** Manifest-pointer commit: serve the version the manifest already
    * names, or build a new immutable version dir with `write`, publish
    * the manifest naming it with an exclusive create, and serve
    * whatever the manifest names afterwards. The manifest records the
    * artifact's full key (`prefix|scope|dir|stamp` for clustered
    * artifacts), so `gc` can read ownership back. Returns the served
    * data dir.
    */
  private[operators] def commitManifest(spark: SparkSession, out: String,
      key: String)(write: String => Unit): String = {
    val dest = new Path(out)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolveManifest(fs, dest) match {
      case Some(dir) => return dir.toString
      case None =>
    }
    val ver = new Path(parentOf(dest),
      s"${dest.getName}__v_${java.util.UUID.randomUUID().toString.take(8)}")
    write(ver.toString)
    if (!fs.exists(new Path(ver, "_SUCCESS")))
      throw new java.io.IOException(
        s"artifact build failed: $ver lacks its parquet job marker")
    // read-repair: a manifest that still resolves to absent (it names
    // a dir without `_SUCCESS`, or a writer crashed mid-create) is
    // debris — delete it so the exclusive create can land
    val mf = manifestFor(out)
    if (fs.exists(mf) && awaitManifest(fs, dest).isEmpty) fs.delete(mf, false)
    try {
      val mfOut = fs.create(mf, false)
      try mfOut.write(s"${ver.getName}\n$key".getBytes("UTF-8"))
      finally mfOut.close()
    } catch { case _: FileAlreadyExistsException => () }
    // serve what the manifest names: our version if the create won,
    // the winner's if it lost (then ours is discarded)
    val served = awaitManifest(fs, dest).getOrElse(ver)
    if (served.getName != ver.getName) fs.delete(ver, true)
    served.toString
  }

  /** Retention sweep over `spark.graft.artifactDir` — the garbage
    * collection `path`'s design needs: every artifact is keyed by
    * (prefix, scope, dir, corpus stamp), so a REWRITTEN corpus gets a
    * fresh manifest and version dir and the old ones would otherwise
    * live forever (at 100 TB each artifact is itself large; a
    * daily-rebuilt corpus leaks its artifact volume daily).
    *
    * `live` lists the artifact families this deployment serves, as
    * the same (prefix, dir, stampSrc) triples their builders pass to
    * `materializedClustered` — the sweep recomputes each CURRENT key
    * under the session's scope and never touches those manifests. For
    * every other manifest or version dir under a managed prefix:
    *
    *   - non-current manifests OWNED BY THIS SCOPE (the manifest
    *     records its key's scope — under `app` scope another driver's
    *     same-prefix artifacts are hash-opaque but their manifests
    *     say whose they are, and they are NOT ours to reap): the
    *     `keepStamps` most recently modified survive (rollback margin
    *     — and protection for a racer committing under a stamp this
    *     sweep predates), the rest are deleted with the dir they name;
    *   - another application's manifests older than `orphanTtlMs`
    *     (a dead application never sweeps its own leavings;
    *     `shared`-scope artifacts are the fleet's, never orphans);
    *   - version dirs no manifest names (race losers, crashed
    *     builds): deleted only when their NEWEST mtime (the dir or any
    *     direct child — a running parquet job keeps touching its
    *     `_temporary` subtree) is older than `graceMs`. `graceMs` is
    *     the caller's liveness contract: set it ABOVE the longest
    *     expected artifact build, or a slow build reads as a crash.
    *
    * Entries whose prefix is NOT in `live` are never touched — another
    * team's families in a shared artifact volume are not this
    * deployment's to reap. Deleted paths are returned; in-JVM memo
    * entries pointing at them are dropped so a later call rebuilds
    * instead of serving a dangling path.
    */
  def gc(spark: SparkSession, live: Seq[(String, String, String)],
      keepStamps: Int = 1, graceMs: Long = 3600000L,
      orphanTtlMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val unqualified = new Path(artifactBase(spark))
    val fs = unqualified.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified, so the paths recorded below compare equal to
    // listStatus paths and to the qualified memo paths
    val base = fs.makeQualified(unqualified)
    if (!fs.exists(base)) return Nil
    val scope = this.scope(spark)
    val liveNames = live.map { case (prefix, dir, stampSrc) =>
      val stamp = corpusStamp(spark, s"$dir/$stampSrc")
      new Path(path(spark, prefix, s"$prefix|$scope|$dir|$stamp")).getName
    }.toSet
    val managedPrefixes = live.map(_._1).toSet
    def prefixOf(name: String): String = {
      val i = name.lastIndexOf('_')
      if (i < 0) name else name.substring(0, i)
    }
    // age tests below compare the DRIVER's clock against filesystem
    // mtimes: skew between a driver and a remote store eats into (or
    // pads) the grace/TTL windows — the defaults (1 h grace, 7 d TTL)
    // dwarf realistic skew, but a caller tightening graceMs below
    // minutes on an object store should account for it
    def orphan(ownerScope: Option[String], mtime: Long): Boolean =
      ownerScope.exists(s => s != scope && s != "shared") &&
        (System.currentTimeMillis() - mtime) > orphanTtlMs
    val now = System.currentTimeMillis()
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def reap(st: FileStatus): Unit = {
      if (fs.delete(st.getPath, true)) deleted += st.getPath.toString
    }
    val all = fs.listStatus(base)
    val manifests = all.filter(st =>
      !st.isDirectory && st.getPath.getName.endsWith(".manifest"))
    val versioned = all.filter(st => st.isDirectory && st.getPath.getName.contains("__v_"))
    // liveness = the newest mtime anywhere one level down: a running
    // parquet job touches its _temporary subtree while the version
    // dir's own mtime stays at job start
    def newestMtime(st: FileStatus): Long =
      try (st.getModificationTime +:
        fs.listStatus(st.getPath).map(_.getModificationTime).toSeq).max
      catch { case _: java.io.IOException => st.getModificationTime }
    def mfBase(st: FileStatus): String = st.getPath.getName.stripSuffix(".manifest")
    def mfScope(st: FileStatus): Option[String] =
      readManifest(fs, st.getPath).map(_._2).flatMap(_.split('|') match {
        case parts if parts.length >= 4 => Some(parts(1))
        case _ => None
      })
    def reapManifest(st: FileStatus): Unit = {
      // referenced dir first, then the pointer — a crash between the
      // two leaves a dangling manifest that resolves to ABSENT
      readManifest(fs, st.getPath).foreach { case (dirName, _) =>
        val dir = new Path(base, dirName)
        if (fs.exists(dir) && fs.delete(dir, true)) deleted += dir.toString
      }
      reap(st)
    }
    val referenced = manifests
      .flatMap(st => readManifest(fs, st.getPath).map(_._1)).toSet
    manifests.groupBy(st => prefixOf(mfBase(st))).foreach {
      case (pfx, group) if managedPrefixes.contains(pfx) =>
        val stale = group.filterNot(st => liveNames.contains(mfBase(st)))
        stale.filter(st => mfScope(st).contains(scope))
          .sortBy(-_.getModificationTime).drop(keepStamps).foreach(reapManifest)
        stale.filter(st => orphan(mfScope(st), st.getModificationTime))
          .foreach(reapManifest)
      case _ => ()
    }
    // unreferenced versioned dirs — race losers and crashed builds
    // (their manifest names another version or never landed); grace-
    // gated so a build racing this sweep keeps its not-yet-published
    // version
    versioned.filter { st =>
      val baseName = st.getPath.getName.split("__v_").head
      managedPrefixes.contains(prefixOf(baseName)) &&
        !referenced.contains(st.getPath.getName) &&
        !deleted.contains(st.getPath.toString)
    }.filter(st => now - newestMtime(st) > graceMs)
      .foreach(reap)
    // a memoized path that was just reaped must not be served again
    // (compare fully-qualified: listStatus paths carry the scheme,
    // the memoized build path may not)
    val gone = deleted.toSet
    memo.foreach { case (k, f) =>
      if (f.isDone && !f.isCompletedExceptionally &&
          gone.contains(fs.makeQualified(new Path(f.join())).toString))
        memo.remove(k, f)
    }
    deleted.toSeq
  }
}
