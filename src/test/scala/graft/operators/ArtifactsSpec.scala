package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The materialize-once discipline all corpus artifacts share
  * (`Artifacts.materializedClustered`): one build per (prefix, app,
  * dir, corpus stamp), every later call served from the landed
  * parquet; a rewritten corpus gets a fresh stamp and rebuilds.
  */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  /** A foreign driver's artifact at `p`, committed under `key`; the
    * served version dir.
    */
  private def plant(p: String, key: String): String =
    Artifacts.commitManifest(spark, p, key)(graft.sources.Layout.writeClustered(
      Seq((9L, "z")).toDF("doc_id", "text"), _, Seq("doc_id")))

  test("materializedClustered builds once per corpus stamp and serves from the scan") {
    val dir = tmpDir("artifacts_fixture")
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    var builds = 0
    def call() = Artifacts.materializedClustered(spark, "aspec", dir,
      "documents.parquet", Seq("doc_id")) {
      builds += 1
      spark.read.parquet(dir + "/documents.parquet")
        .select(col("doc_id"), upper(col("text")).as("t"))
    }
    val first = call().as[(Long, String)].collect().toSet
    val second = call().as[(Long, String)].collect().toSet
    assert(first === Set((1L, "A"), (2L, "B")) && second === first)
    assert(builds === 1, s"artifact must build once, built $builds times")
    // the serving plan is a plain parquet scan of the artifact — the
    // build pipeline (here: the upper() project over the corpus) is
    // not in it
    val serve = call().queryExecution.executedPlan.toString
    assert(!serve.contains("upper"), s"serving must read the artifact:\n$serve")
    // a REWRITTEN corpus changes the stamp: the artifact rebuilds and
    // serves the new contents (staleness can't leak across versions)
    Thread.sleep(1100) // ensure a distinct mtime second on coarse filesystems
    Seq((3L, "c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val third = call().as[(Long, String)].collect().toSet
    assert(third === Set((3L, "C")), s"stale artifact served: $third")
    assert(builds === 2)
  }

  test("load-time validation: runs once per artifact version, and a FAILED validation re-runs on the next load") {
    val dir = tmpDir("artifacts_validate")
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    var calls = 0
    var failFirst = true
    def call() = Artifacts.materializedClustered(spark, "avspec", dir,
      "documents.parquet", Seq("doc_id"), validate = _ => {
        calls += 1
        if (failFirst) { failFirst = false; throw new IllegalStateException("bad width") }
      }) {
      spark.read.parquet(dir + "/documents.parquet")
    }
    // first load: validation throws — the failure must NOT be cached
    // as "validated" (the checkWidth=false serve paths trust this
    // guard; a cached failure would serve the broken artifact
    // unchecked for the process's lifetime)
    val e = intercept[IllegalStateException](call())
    assert(e.getMessage === "bad width" && calls === 1)
    // second load: validation re-runs and passes
    assert(call().count() === 1L && calls === 2)
    // third load: same version — validated once, not re-paid
    assert(call().count() === 1L && calls === 2)
  }

  test("two racing commits land one consistent artifact") {
    // simulates two DRIVERS sharing spark.graft.artifactDir: both
    // build the same deterministic path concurrently via the manifest
    // commit (bypassing the in-JVM single-flight memo). One exclusive
    // manifest create wins; the loser discards its version dir and
    // serves the winner's; a reader never sees a partial artifact.
    // nanoTime-unique: a prior session's manifest at a fixed path
    // would make every commit a valid no-op and void the race
    val dir = tmpDir(s"artifacts_race_${System.nanoTime()}")
    val out = dir + "/artifact_dest"
    def commit(rows: org.apache.spark.sql.DataFrame) =
      Artifacts.commitManifest(spark, out, "race")(
        graft.sources.Layout.writeClustered(rows, _, Seq("doc_id")))
    val df = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val served = Await.result(Future.sequence((1 to 2).map(_ => Future(commit(df)))),
      120.seconds)
    assert(served.distinct.size === 1, s"both racers must serve one version: $served")
    assert(spark.read.parquet(served.head).as[(Long, String)].collect().toSet ===
      Set((1L, "x"), (2L, "y")), "the committed artifact must be complete")
    assert(new java.io.File(served.head, "_SUCCESS").exists(),
      "the served version must carry the parquet job marker")
    val versions = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.contains("__v_")).toSeq
    assert(versions === Seq(new org.apache.hadoop.fs.Path(served.head).getName),
      s"the losing version dir must be discarded: $versions")
    // a manifest naming a version that lost its job marker (a crashed
    // or reaped build) resolves to absent: rebuilt over, never served
    new java.io.File(served.head, "_SUCCESS").delete()
    val rebuilt = commit(Seq((9L, "z")).toDF("doc_id", "text"))
    assert(rebuilt != served.head)
    assert(spark.read.parquet(rebuilt).as[(Long, String)].collect().toSet ===
      Set((9L, "z")), "a dangling manifest must be rebuilt over")
  }

  test("manifest commit: readers resolve only complete versions — a mid-copy dir is invisible") {
    // data lands in an immutable uniquely-named dir, a one-file
    // manifest names it, and a reader NEVER lists the deterministic
    // path itself — so the partial state a non-atomic copy would
    // expose (files appearing one by one) cannot be observed
    val prevScope = spark.conf.getOption(Artifacts.ScopeKey)
    try {
      spark.conf.set(Artifacts.ScopeKey, "shared")
      val dir = tmpDir(s"artifacts_mf_${System.nanoTime()}")
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir + "/documents.parquet")
      var builds = 0
      def call() = Artifacts.materializedClustered(spark, "mfspec", dir,
        "documents.parquet", Seq("doc_id")) {
        builds += 1
        spark.read.parquet(dir + "/documents.parquet")
          .select(col("doc_id"), upper(col("text")).as("t"))
      }
      assert(call().as[(Long, String)].collect().toSet === Set((1L, "A"), (2L, "B")))
      assert(builds === 1)
      val artBase = Artifacts.artifactBase(spark)
      val fs = new org.apache.hadoop.fs.Path(artBase)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the layout: one __v_ dir + one .manifest naming it; the
      // deterministic path itself does not exist
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(artBase))
        .map(_.getPath.getName).filter(_.startsWith("mfspec_")).toSeq
      val vdirs = names.filter(_.contains("__v_"))
      val mfs = names.filter(_.endsWith(".manifest"))
      assert(vdirs.size === 1 && mfs.size === 1, s"layout: $names")
      assert(names.size === 2, s"no renamed deterministic dir may exist: $names")
      // SIMULATED mid-copy state: a second version dir appears file by
      // file (as a non-atomic rename would materialize it) but the
      // manifest still names the complete version — a fresh reader
      // (cold memo: new key via corpus rewrite is NOT simulated here,
      // so resolve directly) sees only the complete artifact
      val partial = new org.apache.hadoop.fs.Path(artBase, "mfspec_0000__v_partial")
      fs.mkdirs(partial)
      fs.create(new org.apache.hadoop.fs.Path(partial, "part-00000.parquet"), true).close()
      // no _SUCCESS, not referenced by any manifest
      val mfPath = new org.apache.hadoop.fs.Path(artBase, mfs.head)
      val resolved = Artifacts.resolveManifest(fs,
        new org.apache.hadoop.fs.Path(artBase, mfs.head.stripSuffix(".manifest")))
      assert(resolved.exists(_.getName === vdirs.head),
        "the reader must resolve to the complete referenced version")
      // a DANGLING manifest (names a dir with no _SUCCESS) resolves to
      // absent — rebuild, never a partial read
      val bogus = fs.create(mfPath, true)
      bogus.write("mfspec_0000__v_partial\nmfspec|shared|x|y".getBytes("UTF-8"))
      bogus.close()
      assert(Artifacts.resolveManifest(fs,
        new org.apache.hadoop.fs.Path(artBase, mfs.head.stripSuffix(".manifest"))).isEmpty,
        "a manifest naming an incomplete dir must resolve to absent")
      fs.delete(partial, true)
      fs.delete(mfPath, false)
      fs.delete(new org.apache.hadoop.fs.Path(artBase, vdirs.head), true)
    } finally {
      prevScope.fold(spark.conf.unset(Artifacts.ScopeKey))(
        spark.conf.set(Artifacts.ScopeKey, _))
    }
  }

  test("manifest commit: gc reaps unreferenced race-loser versions and stale manifests") {
    val dir = tmpDir(s"artifacts_mfgc_${System.nanoTime()}")
    def call() = Artifacts.materializedClustered(spark, "mfgc", dir,
      "documents.parquet", Seq("doc_id")) {
      spark.read.parquet(dir + "/documents.parquet")
    }
    // corpus v1 → manifest M1 + dir V1; corpus v2 → M2 + V2
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val v1 = call().inputFiles.head.replaceAll("/[^/]*$", "")
    Thread.sleep(1100)
    Seq((2L, "b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val v2 = call().inputFiles.head.replaceAll("/[^/]*$", "")
    assert(v1 != v2)
    val artBase = Artifacts.artifactBase(spark)
    val fs = new org.apache.hadoop.fs.Path(artBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an unreferenced OLD race-loser version of the current artifact
    val loser = new org.apache.hadoop.fs.Path(artBase,
      new org.apache.hadoop.fs.Path(v2).getName.split("__v_").head + "__v_loser")
    fs.mkdirs(loser)
    fs.setTimes(loser, System.currentTimeMillis() - 7200000L, -1)
    val deleted = Artifacts.gc(spark,
      live = Seq(("mfgc", dir, "documents.parquet")),
      keepStamps = 0, graceMs = 60000L)
    def gone(p: String) = !fs.exists(new org.apache.hadoop.fs.Path(p))
    assert(gone(v1), s"stale-stamp version dir must be pruned (deleted: $deleted)")
    assert(gone(v1.replaceAll("__v_.*$", "") + ".manifest"),
      "the stale stamp's manifest must be pruned with it")
    assert(gone(loser.toString), "an old unreferenced race-loser must be pruned")
    assert(!gone(v2), "the current version must survive")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      v2.replaceAll("__v_.*$", "") + ".manifest")),
      "the current manifest must survive")
    // serving still works from the intact memo/manifest
    assert(call().as[(Long, String)].collect().toSet === Set((2L, "b")))
  }

  test("gc orphan TTL: a dead application's artifacts age out; young foreigners survive") {
    // ADVICE r14: under the default app scope every artifact is keyed
    // by applicationId, so a finished application's dirs were
    // previously immortal — foreign-scope committed dirs older than
    // the orphan TTL are now debris (shared-scope artifacts are the
    // fleet's and never orphans)
    val dir = tmpDir(s"artifacts_gc4_${System.nanoTime()}")
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    Artifacts.materializedClustered(spark, "gcspec4", dir,
      "documents.parquet", Seq("doc_id")) {
      spark.read.parquet(dir + "/documents.parquet")
    }
    val artBase = Artifacts.artifactBase(spark)
    val fs = new org.apache.hadoop.fs.Path(artBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def foreignDir(name: String, scopeName: String, ageMs: Long): String = {
      val p = artBase.stripSuffix("/") + "/" + name
      val served = plant(p, s"gcspec4|$scopeName|$dir|stamp-$name")
      fs.setTimes(Artifacts.manifestFor(p), System.currentTimeMillis() - ageMs, -1)
      served
    }
    val deadApp = foreignDir("gcspec4_deadapp1", "app-DEAD-driver", 86400000L)
    val youngApp = foreignDir("gcspec4_young001", "app-YOUNG-driver", 3600000L)
    val fleet = foreignDir("gcspec4_fleet001", "shared", 86400000L)
    Artifacts.gc(spark, live = Seq(("gcspec4", dir, "documents.parquet")),
      keepStamps = 0, graceMs = 60000L, orphanTtlMs = 43200000L) // 12h TTL
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    assert(!exists(deadApp), "a foreign app's artifact past the orphan TTL is debris")
    assert(exists(youngApp), "a foreign app's artifact inside the TTL must survive")
    assert(exists(fleet), "shared-scope artifacts are the fleet's, never orphans")
    Seq(youngApp, fleet).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    Seq("gcspec4_young001", "gcspec4_fleet001").foreach(n =>
      fs.delete(Artifacts.manifestFor(artBase.stripSuffix("/") + "/" + n), false))
  }

  test("gc prunes stale stamps, keeps the current artifact, leaves in-flight temps alone") {
    val dir = tmpDir(s"artifacts_gc_${System.nanoTime()}")
    val artBase = Artifacts.artifactBase(spark)
    val fs = new org.apache.hadoop.fs.Path(artBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var builds = 0
    def call() = Artifacts.materializedClustered(spark, "gcspec", dir,
      "documents.parquet", Seq("doc_id")) {
      builds += 1
      spark.read.parquet(dir + "/documents.parquet")
    }
    // corpus v1 → artifact A1
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val a1 = call().inputFiles.head.replaceAll("/[^/]*$", "")
    // corpus v2 (distinct mtime second) → artifact A2
    Thread.sleep(1100)
    Seq((2L, "b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val a2 = call().inputFiles.head.replaceAll("/[^/]*$", "")
    assert(a1 != a2 && builds === 2)
    // unreferenced version dirs: a young one (a build in flight, its
    // manifest not yet published) and an old one (a crashed writer's
    // debris)
    val temp = new org.apache.hadoop.fs.Path(artBase, "gcspec_feed12ab__v_inflight")
    fs.mkdirs(temp)
    val crashed = new org.apache.hadoop.fs.Path(artBase, "gcspec_deadbeef__v_crashed")
    fs.mkdirs(crashed)
    fs.setTimes(crashed, System.currentTimeMillis() - 7200000L, -1)
    val deleted = Artifacts.gc(spark,
      live = Seq(("gcspec", dir, "documents.parquet")),
      keepStamps = 0, graceMs = 60000L)
    def gone(p: String) =
      !fs.exists(new org.apache.hadoop.fs.Path(p))
    assert(gone(a1), s"the stale-stamp artifact must be pruned (deleted: $deleted)")
    assert(gone(crashed.toString), "an old unreferenced version dir must be pruned")
    assert(!gone(a2), "the current-stamp artifact must survive")
    assert(fs.exists(temp), "a young unreferenced version dir must be left alone")
    // serving still works and did not rebuild (A2's memo entry is intact)
    assert(call().as[(Long, String)].collect().toSet === Set((2L, "b")))
    assert(builds === 2, "gc must not invalidate the current artifact")
    // a foreign family's dir in the same volume is never touched
    val foreign = new org.apache.hadoop.fs.Path(artBase, "othersuite_11112222")
    fs.mkdirs(foreign)
    fs.setTimes(foreign, System.currentTimeMillis() - 7200000L, -1)
    Artifacts.gc(spark, live = Seq(("gcspec", dir, "documents.parquet")),
      keepStamps = 0, graceMs = 60000L)
    assert(fs.exists(foreign), "unmanaged prefixes are not this deployment's to reap")
    fs.delete(temp, true); fs.delete(foreign, true)
  }

  test("gc never reaps another driver's artifact (marker records the owner scope)") {
    // two drivers share one volume under the default app scope: their
    // same-prefix artifact names are mutually opaque hashes, so the
    // manifest's embedded key is what tells the sweep whose dir
    // is whose — another app's artifact must survive even when it is
    // older than this app's stale stamps
    val dir = tmpDir(s"artifacts_gc3_${System.nanoTime()}")
    def call() = Artifacts.materializedClustered(spark, "gcspec3", dir,
      "documents.parquet", Seq("doc_id")) {
      spark.read.parquet(dir + "/documents.parquet")
    }
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val mine1 = call().inputFiles.head.replaceAll("/[^/]*$", "")
    Thread.sleep(1100)
    Seq((2L, "b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    call()
    // a foreign driver's committed artifact, same prefix, OLD mtime
    val artBase = Artifacts.artifactBase(spark)
    val theirsPath = artBase.stripSuffix("/") + "/gcspec3_feedf00d"
    val theirs = plant(theirsPath, s"gcspec3|app-OTHER-driver|$dir|some-old-stamp")
    val fs = new org.apache.hadoop.fs.Path(artBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(Artifacts.manifestFor(theirsPath), System.currentTimeMillis() - 86400000L, -1)
    Artifacts.gc(spark, live = Seq(("gcspec3", dir, "documents.parquet")),
      keepStamps = 0, graceMs = 60000L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mine1)),
      "this app's stale stamp must still be pruned")
    assert(fs.exists(new org.apache.hadoop.fs.Path(theirs)),
      "another app's artifact is not this sweep's to reap")
    fs.delete(new org.apache.hadoop.fs.Path(theirs), true)
    fs.delete(Artifacts.manifestFor(theirsPath), false)
  }

  test("gc keepStamps retains a rollback margin of recent stale artifacts") {
    val dir = tmpDir(s"artifacts_gc2_${System.nanoTime()}")
    def call() = Artifacts.materializedClustered(spark, "gcspec2", dir,
      "documents.parquet", Seq("doc_id")) {
      spark.read.parquet(dir + "/documents.parquet")
    }
    val paths = (1 to 3).map { v =>
      Seq((v.toLong, s"v$v")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir + "/documents.parquet")
      val p = call().inputFiles.head.replaceAll("/[^/]*$", "")
      Thread.sleep(1100)
      p
    }
    Artifacts.gc(spark, live = Seq(("gcspec2", dir, "documents.parquet")),
      keepStamps = 1, graceMs = 60000L)
    val fs = new org.apache.hadoop.fs.Path(paths.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    assert(!exists(paths(0)), "the oldest stale stamp must be pruned")
    assert(exists(paths(1)), "keepStamps=1 must retain the most recent stale stamp")
    assert(exists(paths(2)), "the current stamp must survive")
  }

  test("distinct artifacts build concurrently (per-key single-flight)") {
    // each builder blocks until the OTHER builder has started: under
    // the old global build lock this deadlocks; under per-key latches
    // both proceed and the await succeeds
    val dir = tmpDir("artifacts_conc")
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val aStarted = new java.util.concurrent.CountDownLatch(1)
    val bStarted = new java.util.concurrent.CountDownLatch(1)
    @volatile var overlapped = true
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def build(prefix: String, mine: java.util.concurrent.CountDownLatch,
        other: java.util.concurrent.CountDownLatch) = Future {
      Artifacts.materializedClustered(spark, prefix, dir,
        "documents.parquet", Seq("doc_id")) {
        mine.countDown()
        if (!other.await(60, java.util.concurrent.TimeUnit.SECONDS))
          overlapped = false
        spark.read.parquet(dir + "/documents.parquet")
      }
    }
    val fa = build("aspec_conc_x", aStarted, bStarted)
    val fb = build("aspec_conc_y", bStarted, aStarted)
    Await.result(Future.sequence(Seq(fa, fb)), 120.seconds)
    assert(overlapped,
      "two distinct-key builds must run concurrently, not serialize under one lock")
  }
}
