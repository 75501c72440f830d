package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared plumbing for corpus-version-keyed materialized artifacts
  * (cluster table, IVF centroids, PQ codebooks, BPE merges): the
  * staleness stamp and the deterministic artifact path. One
  * implementation so every artifact ages out under the SAME rule —
  * a new session or a rewritten corpus recomputes, nothing else
  * does.
  */
private[operators] object Artifacts {

  /** Staleness stamp via Hadoop's FileSystem (mtime + content
    * summary) — works on any Hadoop path (hdfs://, s3a://, local),
    * and the content summary catches a same-name in-place rewrite
    * that leaves the directory mtime untouched.
    */
  def corpusStamp(spark: SparkSession, src: String): String = {
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val cs = fs.getContentSummary(p)
      s"${fs.getFileStatus(p).getModificationTime}-${cs.getLength}-${cs.getFileCount}"
    }
  }

  /** The ONE owner of the artifact-volume location (conf key +
    * default) — `path`, the shared-scope gate, and `gc` must agree on
    * the directory or the sweep would silently reap nothing.
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

  private val memo = scala.collection.concurrent
    .TrieMap.empty[String, java.util.concurrent.CompletableFuture[String]]

  /** The materialize-once discipline every corpus-version artifact
    * (document clusters, media clusters, passage pairs) follows:
    * build `frame` ONCE per (prefix, application, dir, corpus stamp),
    * land it as parquet clustered on `clusterCols`
    * (Layout.writeClustered — downstream per-key scans hit tight row
    * groups), and serve every subsequent call from the scan. Keyed by
    * the corpus stamp, so a new session or a rewritten corpus
    * recomputes and results can never go stale against the driver's
    * gate or planted spec fixtures.
    *
    * Concurrency, two layers:
    *   - in-JVM: single-flight PER KEY (a CompletableFuture latch in
    *     the TrieMap) — same-key callers wait for the one builder,
    *     DISTINCT artifacts (cc, mcc, ppair, …) build concurrently
    *     instead of serializing under a global lock. A failed build
    *     removes its latch so a later call can retry.
    *   - cross-driver: the commit itself is write-to-temp + atomic
    *     rename (`commitClustered`), so two drivers sharing
    *     `spark.graft.artifactDir` can race the same deterministic
    *     path and a third can read it mid-race without ever
    *     observing a half-written artifact.
    */
  /** Artifact sharing scope: `app` (default) keys every artifact by
    * applicationId — each driver builds and serves its own copies, so
    * a code change between sessions can never serve a stale artifact
    * built by older logic (the safe mode while the engine itself is
    * evolving). `shared` drops the applicationId: drivers sharing
    * `spark.graft.artifactDir` REUSE each other's artifacts for the
    * same (prefix, dir, corpus stamp) — the production mode for a
    * fleet running ONE engine version, and the mode the cross-driver
    * atomic commit below exists for (two drivers really can race the
    * same path there).
    */
  val ScopeKey = "spark.graft.artifactScope"

  /** Object stores whose "rename" is a file-by-file server-side copy:
    * a reader can list the destination mid-copy, so the rename-based
    * commit below is NOT atomic there. These stores default to the
    * MANIFEST commit protocol instead (see [[CommitModeKey]]), which
    * never renames a directory at all.
    */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss", "cosn", "swift")

  /** Commit protocol for the deterministic artifact path:
    *   - `rename` (default on atomic-rename filesystems — HDFS,
    *     POSIX-local, viewfs): build to a `_tmp_` sibling, rename into
    *     place; one metadata op, readers see nothing or everything.
    *   - `manifest` (default on object stores): build into an
    *     IMMUTABLE uniquely-named `<name>__v_<uuid>` directory, then
    *     publish a single small `<name>.manifest` file naming it — a
    *     one-file put is atomic on every object store, so readers
    *     (which only ever follow the manifest) can never observe a
    *     partial artifact, racing writers degrade to last-put-wins
    *     over two COMPLETE versions, and `shared` scope works on
    *     s3a-likes. Unreferenced race-loser dirs are `gc`'s to reap.
    * Force either with this conf key (the spec forces `manifest` on
    * local fs to simulate the object-store protocol).
    */
  val CommitModeKey = "spark.graft.artifactCommit"

  private def baseScheme(spark: SparkSession): String = {
    val base = new org.apache.hadoop.fs.Path(artifactBase(spark))
    Option(base.toUri.getScheme).getOrElse(
      base.getFileSystem(spark.sparkContext.hadoopConfiguration).getUri.getScheme)
  }

  private[operators] def commitMode(spark: SparkSession): String =
    spark.conf.get(CommitModeKey,
      if (NonAtomicRenameSchemes.contains(baseScheme(spark))) "manifest"
      else "rename")

  private def requireAtomicRenameForShared(spark: SparkSession): Unit = {
    val scheme = baseScheme(spark)
    require(!NonAtomicRenameSchemes.contains(scheme),
      s"$ScopeKey=shared with $CommitModeKey=rename needs an atomic-rename " +
        s"filesystem, but spark.graft.artifactDir is on '$scheme://' where " +
        "rename is a non-atomic copy; use the manifest commit protocol " +
        s"($CommitModeKey=manifest, the default there) or the app scope")
  }

  /** Once-per-(process, artifact-version) post-load validation guard
    * for [[materializedClustered]]'s `validate` hook — keyed by the
    * stamped memo key, so a new corpus version re-validates and a
    * repeated serve call never re-pays the check (r17 ADVICE: width
    * integrity belongs at artifact LOAD, not per query run). One
    * FUTURE per key (r18 ADVICE: the contains/add pair was a
    * non-atomic check-then-act — two concurrent loaders could both
    * run validate, and a reader could return while another's
    * validate was mid-flight): the build memo's exact
    * winner-installs / losers-join pattern, so validation runs
    * exactly once per key and every concurrent loader waits for it.
    */
  /** Analyzed-frame memo for immutable (content-stamped) artifact
    * paths — metadata reuse only; see the load site below. Keyed on
    * the session OBJECT with stopped-context eviction (r20 hardening,
    * same rationale as [[graft.SessionMemo]]'s scaladoc).
    */
  private val loadedFrames =
    new graft.SessionMemo[String, org.apache.spark.sql.DataFrame]

  private val validated = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[Unit]]()

  /** Join a winner's future rethrowing the ORIGINAL failure: a bare
    * `join()` wraps it in CompletionException, so a loser racing a
    * failed build/validation would observe a different exception TYPE
    * than the winner (r19 review: callers intercepting the saturation
    * gate's IllegalStateException must see it on both sides of the
    * race).
    */
  private def joinRaw[T](f: java.util.concurrent.CompletableFuture[T]): T =
    try f.join()
    catch {
      case e: java.util.concurrent.CompletionException
          if e.getCause != null => throw e.getCause
    }

  def materializedClustered(spark: SparkSession, prefix: String, dir: String,
      stampSrc: String, clusterCols: Seq[String],
      validate: org.apache.spark.sql.DataFrame => Unit = _ => ())(
      frame: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stamp = corpusStamp(spark, s"$dir/$stampSrc")
    val shared = spark.conf.get(ScopeKey, "app") == "shared"
    val mode = commitMode(spark)
    if (shared && mode == "rename") requireAtomicRenameForShared(spark)
    val scope = if (shared) "shared" else spark.sparkContext.applicationId
    val key = s"$prefix|$scope|$dir|$stamp"
    val fresh = new java.util.concurrent.CompletableFuture[String]()
    val p = memo.putIfAbsent(key, fresh) match {
      case Some(inFlight) => joinRaw(inFlight)
      case None =>
        try {
          val out = path(spark, prefix, key)
          val served =
            if (mode == "manifest") commitManifest(spark, out, clusterCols, key)(frame)
            else { commitClustered(spark, out, clusterCols, key)(frame); out }
          fresh.complete(served)
          served
        } catch {
          case e: Throwable =>
            fresh.completeExceptionally(e)
            memo.remove(key, fresh)
            throw e
        }
    }
    // artifact paths are content-stamped (immutable per key), so the
    // ANALYZED frame memoizes per (session, path) — r19: re-resolving
    // the datasource (file listing + footer reads) on every serve call
    // was driver-side wall on every artifact consumer's every run;
    // the scan still reads the artifact parquet per action
    val out = loadedFrames.getOrCompute(spark, p)(spark.read.parquet(p))
    // complete the future only AFTER validate succeeds, and REMOVE it
    // on failure: a thrown validation must re-run on the next load,
    // or a broken artifact would be cached as "validated" and served
    // unchecked for the process's lifetime (the checkWidth=false
    // serve paths trust this guard). A concurrent loser joins the
    // winner's future — it never reads past a mid-flight validate.
    val vf = new java.util.concurrent.CompletableFuture[Unit]()
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
  // The manifest commit protocol (object stores)
  // ---------------------------------------------------------------

  private[operators] def manifestFor(out: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(out + ".manifest")

  /** Parse a manifest's (referenced dir name, key) — None when absent
    * or unreadable (a partial manifest read maps to ABSENT, never to a
    * partial artifact).
    */
  private[operators] def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      mf: org.apache.hadoop.fs.Path): Option[(String, String)] =
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
    * referenced dir — the only way a manifest-mode reader ever reaches
    * artifact data, which is the protocol's safety argument: a dir
    * mid-build (or a race loser) is simply never named.
    */
  private[operators] def resolveManifest(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] =
    readManifest(fs, manifestFor(dest.toString)).flatMap { case (dirName, _) =>
      val dir = new org.apache.hadoop.fs.Path(
        if (dest.getParent == null) new org.apache.hadoop.fs.Path("/") else dest.getParent,
        dirName)
      if (fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) Some(dir)
      else None
    }

  /** Manifest-pointer commit: build into an immutable uniquely-named
    * dir, publish the one-file manifest naming it, serve whatever the
    * manifest names afterwards (a racer's complete version is as good
    * as ours — last put wins; the loser dir is unreferenced and gc
    * reaps it after the grace window). Returns the served data dir.
    */
  private[operators] def commitManifest(spark: SparkSession, out: String,
      clusterCols: Seq[String], key: String = "")(
      frame: => org.apache.spark.sql.DataFrame): String = {
    val dest = new org.apache.hadoop.fs.Path(out)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolveManifest(fs, dest) match {
      case Some(dir) => return dir.toString
      case None =>
    }
    val ver = new org.apache.hadoop.fs.Path(
      if (dest.getParent == null) new org.apache.hadoop.fs.Path("/") else dest.getParent,
      s"${dest.getName}__v_${java.util.UUID.randomUUID().toString.take(8)}")
    graft.sources.Layout.writeClustered(frame, ver.toString, clusterCols)
    if (!fs.exists(new org.apache.hadoop.fs.Path(ver, "_SUCCESS")))
      throw new java.io.IOException(
        s"artifact build failed: $ver lacks its parquet job marker")
    // the publish: one small file, created complete on close — atomic
    // on every object store (and the narrow create window on
    // rename-capable filesystems is read-repaired: an unreadable
    // manifest resolves to ABSENT and the caller rebuilds a fresh
    // version; no reader ever follows a pointer to partial data)
    val mfOut = fs.create(manifestFor(out), true)
    mfOut.write(s"${ver.getName}\n$key".getBytes("UTF-8"))
    mfOut.close()
    resolveManifest(fs, dest).map(_.toString).getOrElse(ver.toString)
  }

  /** An artifact directory is servable iff BOTH markers exist: the
    * parquet job's `_SUCCESS` (written inside the temp dir, arrives
    * with the rename) AND `_GRAFT_COMMITTED`, which the committer
    * creates only AFTER the rename into place completes. The second
    * marker is what makes the check honest on filesystems where
    * rename is a file-by-file copy (object stores): `_SUCCESS` sorts
    * before the part files there, so it alone can be visible over a
    * partial artifact. A crash at any point before the post-rename
    * marker leaves a dir this returns false for — rebuilt over, never
    * served.
    */
  private def committed(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(dest, "_SUCCESS")) &&
      fs.exists(new org.apache.hadoop.fs.Path(dest, CommitMarker))

  private[operators] val CommitMarker = "_GRAFT_COMMITTED"

  /** Stamp the post-rename commit marker. Its CONTENT is the
    * artifact's full key (`prefix|scope|dir|stamp`) so `gc` can read
    * ownership back — under `app` scope, two drivers sharing one
    * volume produce same-prefix dirs whose hashes are mutually
    * opaque; the embedded scope is what keeps one driver's sweep off
    * the other's live artifacts. Guarded on `_SUCCESS` still being
    * present: in the (shared-scope, extreme) race where another
    * pre-commit writer deleted our just-renamed dir, creating the
    * marker would resurrect a marker-only directory — fail instead;
    * `committed` stays false for whatever remains and the next call
    * rebuilds over it.
    */
  private def stampCommitted(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path, key: String): Unit = {
    if (!fs.exists(new org.apache.hadoop.fs.Path(dest, "_SUCCESS")))
      throw new java.io.IOException(
        s"artifact commit failed: $dest was removed before the commit marker landed")
    val out = fs.create(new org.apache.hadoop.fs.Path(dest, CommitMarker), true)
    out.write(key.getBytes("UTF-8"))
    out.close()
  }

  /** The scope recorded in a committed dir's marker, if readable. */
  private def markerScope(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(new org.apache.hadoop.fs.Path(dest, CommitMarker))
      val buf = new java.io.ByteArrayOutputStream()
      try org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      finally in.close()
      new String(buf.toByteArray, "UTF-8").split('|') match {
        case parts if parts.length >= 4 => Some(parts(1))
        case _ => None
      }
    } catch { case _: java.io.IOException => None }

  /** A racing loser may observe the winner's dir between its rename
    * and its marker stamp — poll briefly before declaring the dir
    * broken (the steady state is reached within one marker create).
    */
  private def awaitCommitted(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Boolean = {
    var waited = 0L
    while (!committed(fs, dest) && waited < 5000L) {
      Thread.sleep(100L); waited += 100L
    }
    committed(fs, dest)
  }

  /** Retention sweep over `spark.graft.artifactDir` — the garbage
    * collection `path`'s design needs: every artifact dir is keyed by
    * (prefix, scope, dir, corpus stamp), so a REWRITTEN corpus gets a
    * fresh dir and the old one would otherwise live forever (at
    * 100 TB each artifact is itself large; a daily-rebuilt corpus
    * leaks its artifact volume daily).
    *
    * `live` lists the artifact families this deployment serves, as
    * the same (prefix, dir, stampSrc) triples their builders pass to
    * `materializedClustered` — the sweep recomputes each CURRENT key
    * under the session's scope and never touches those dirs. For
    * every other dir under a managed prefix:
    *
    *   - `_tmp_*` in-flight temps: deleted only when their NEWEST
    *     mtime (the dir or any direct child — a running parquet job
    *     keeps touching its `_temporary` subtree) is older than
    *     `graceMs` (a crashed writer's debris; anything younger may
    *     be a commit in progress and is left alone). `graceMs` is the
    *     caller's liveness contract: set it ABOVE the longest
    *     expected artifact build, or a slow build reads as a crash;
    *   - marker-less dirs (crashed before the post-rename marker):
    *     deleted when older than `graceMs`;
    *   - committed but non-current stamps OWNED BY THIS SCOPE (the
    *     commit marker records its key's scope — under `app` scope
    *     another driver's same-prefix artifacts are hash-opaque but
    *     their markers say whose they are, and they are NOT ours to
    *     reap): the `keepStamps` most recently modified survive
    *     (rollback margin — and protection for a racer committing
    *     under a stamp this sweep predates), the rest are deleted.
    *
    * Dirs whose prefix is NOT in `live` are never touched — another
    * team's families in a shared artifact volume are not this
    * deployment's to reap. Deleted paths are returned; in-JVM memo
    * entries pointing at them are dropped so a later call rebuilds
    * instead of serving a dangling path.
    */
  def gc(spark: SparkSession, live: Seq[(String, String, String)],
      keepStamps: Int = 1, graceMs: Long = 3600000L,
      orphanTtlMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(artifactBase(spark))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Nil
    val scope =
      if (spark.conf.get(ScopeKey, "app") == "shared") "shared"
      else spark.sparkContext.applicationId
    val liveNames = live.map { case (prefix, dir, stampSrc) =>
      val stamp = corpusStamp(spark, s"$dir/$stampSrc")
      new org.apache.hadoop.fs.Path(
        path(spark, prefix, s"$prefix|$scope|$dir|$stamp")).getName
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
    // an ORPHAN is a committed artifact (dir marker or manifest) whose
    // recorded scope is some OTHER driver's applicationId: not ours to
    // reap at stale-stamp cadence, but a dead application never sweeps
    // its own leavings, so anything that old is debris (ADVICE r14).
    // `shared`-scope artifacts are the fleet's, never orphans.
    def orphan(ownerScope: Option[String], mtime: Long): Boolean =
      ownerScope.exists(s => s != scope && s != "shared") &&
        (System.currentTimeMillis() - mtime) > orphanTtlMs
    val now = System.currentTimeMillis()
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def reap(st: org.apache.hadoop.fs.FileStatus): Unit = {
      if (fs.delete(st.getPath, true)) deleted += st.getPath.toString
    }
    val all = fs.listStatus(base)
    val manifests = all.filter(st =>
      !st.isDirectory && st.getPath.getName.endsWith(".manifest"))
    val entries = all.filter(_.isDirectory)
    val (temps, artsAll) = entries.partition(_.getPath.getName.startsWith("_tmp_"))
    val (versioned, arts) = artsAll.partition(_.getPath.getName.contains("__v_"))
    // temp names are _tmp_<prefix>_<keyhash>_<uuid> — match on the
    // managed prefix being their leading component
    // liveness = the newest mtime anywhere one level down: a running
    // parquet job touches its _temporary subtree while the temp dir's
    // own mtime stays at job start
    def newestMtime(st: org.apache.hadoop.fs.FileStatus): Long =
      try (st.getModificationTime +:
        fs.listStatus(st.getPath).map(_.getModificationTime).toSeq).max
      catch { case _: java.io.IOException => st.getModificationTime }
    temps.filter { st =>
      val stripped = st.getPath.getName.stripPrefix("_tmp_")
      managedPrefixes.exists(p => stripped.startsWith(p + "_"))
    }.filter(st => now - newestMtime(st) > graceMs)
      .foreach(reap)
    arts.groupBy(st => prefixOf(st.getPath.getName)).foreach {
      case (pfx, group) if managedPrefixes.contains(pfx) =>
        val stale = group.filterNot(st => liveNames.contains(st.getPath.getName))
        val (committedStale, broken) =
          stale.partition(st => committed(fs, st.getPath))
        broken.filter(st => now - st.getModificationTime > graceMs).foreach(reap)
        // OUR scope's artifacts age out under keepStamps; a marker
        // without a readable scope (legacy dir) is conservatively
        // kept; a dead application's leavings go by the orphan TTL
        committedStale
          .filter(st => markerScope(fs, st.getPath).contains(scope))
          .sortBy(-_.getModificationTime).drop(keepStamps).foreach(reap)
        committedStale
          .filter(st => orphan(markerScope(fs, st.getPath), st.getModificationTime))
          .foreach(reap)
      case _ => ()
    }
    // manifest-committed artifacts: the manifest at <name>.manifest is
    // the commit marker; its referenced dir is the data
    def mfBase(st: org.apache.hadoop.fs.FileStatus): String =
      st.getPath.getName.stripSuffix(".manifest")
    def mfScope(st: org.apache.hadoop.fs.FileStatus): Option[String] =
      readManifest(fs, st.getPath).map(_._2).flatMap(_.split('|') match {
        case parts if parts.length >= 4 => Some(parts(1))
        case _ => None
      })
    def reapManifest(st: org.apache.hadoop.fs.FileStatus): Unit = {
      // referenced dir first, then the pointer — a crash between the
      // two leaves a dangling manifest that resolves to ABSENT
      readManifest(fs, st.getPath).foreach { case (dirName, _) =>
        val dir = new org.apache.hadoop.fs.Path(base, dirName)
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
          gone.contains(fs.makeQualified(
            new org.apache.hadoop.fs.Path(f.join())).toString))
        memo.remove(k, f)
    }
    deleted.toSeq
  }

  /** Atomic cross-driver artifact commit (staging + rename): build to a hidden `_tmp_` sibling, then RENAME into
    * place — one filesystem metadata op, so a concurrent reader sees
    * either no artifact or a complete one, never partial files. If
    * the rename loses a race (another driver committed first), the
    * winner is validated and served and the losing temp is discarded;
    * a marker-less leftover from a crashed writer is deleted and
    * replaced. No-ops when a committed artifact already exists.
    */
  private[operators] def commitClustered(spark: SparkSession, out: String,
      clusterCols: Seq[String], key: String = "")(
      frame: => org.apache.spark.sql.DataFrame): Unit = {
    val dest = new org.apache.hadoop.fs.Path(out)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (committed(fs, dest)) return
    val tmp = new org.apache.hadoop.fs.Path(
      if (dest.getParent == null) new org.apache.hadoop.fs.Path("/") else dest.getParent,
      s"_tmp_${dest.getName}_${java.util.UUID.randomUUID().toString.take(8)}")
    graft.sources.Layout.writeClustered(frame, tmp.toString, clusterCols)
    // re-check right before the delete, WAITING OUT a racer's
    // rename→marker-stamp window (the marker-after-rename protocol
    // opened a cross-driver gap where a just-renamed complete
    // artifact looks uncommitted for one marker create; deleting it
    // there would spuriously fail the winner's stamp). awaitCommitted
    // narrows — not closes, which is why shared scope is gated to
    // atomic-rename filesystems — the TOCTOU where a racer commits
    // between our check and our delete of a genuinely dead dir.
    if (fs.exists(dest) && !awaitCommitted(fs, dest)) fs.delete(dest, true)
    if (!fs.rename(tmp, dest)) {
      // lost the race: another writer renamed first — serve the
      // winner if complete (waiting out its marker stamp), otherwise
      // the artifact dir is unusable
      fs.delete(tmp, true)
      if (!awaitCommitted(fs, dest))
        throw new java.io.IOException(
          s"artifact commit failed: $dest exists without its commit markers")
    } else {
      // Hadoop rename semantics trap: renaming onto an EXISTING
      // directory does not fail — it moves the source INSIDE it and
      // returns true (local fs and HDFS alike). A racer that created
      // dest between our marker check and the rename therefore leaves
      // OUR build nested under the winner's artifact: detect it by
      // our own temp name, discard it, and validate the winner —
      // without this the losing copy is silently retained inside the
      // artifact forever (readers skip the underscore-hidden dir, so
      // it is a permanent storage leak, one full artifact per race).
      val nested = new org.apache.hadoop.fs.Path(dest, tmp.getName)
      if (fs.exists(nested)) {
        fs.delete(nested, true)
        if (!awaitCommitted(fs, dest))
          throw new java.io.IOException(
            s"artifact commit failed: $dest exists without its commit markers after race")
      } else {
        // clean rename: our build IS the artifact — stamp the
        // post-rename marker (carrying the ownership key) that
        // `committed` requires
        stampCommitted(fs, dest, key)
      }
    }
  }
}
