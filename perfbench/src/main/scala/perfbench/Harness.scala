package perfbench

import graft.{GraftSession, SparkEntry}
import graft.functions.{HashFunctions, NearestCell, ProbeCells, TextFunctions, VectorFunctions}
import graft.operators.{CentroidArtifact, IncrementalIvf, IncrementalPassages, IvfIndex, Tombstones}
import graft.sources.{ArrowSchemaJson, ConvertOptions, CsvToParquet}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The JVM side of the benchmark. It drives graft only through public
  * entry points (`GraftSession.local`, `SparkEntry.queries`, the
  * incremental families' admit/retract/compact/serve calls,
  * `CsvToParquet`, the `graft.functions` column builders) and writes one
  * JSON result file that `run.py` turns into metrics.
  *
  * Modes: `pipeline_warm`, `ingest_serve` and `cli_layers` (the
  * in-process layer split of the CLI's conversion, traced runs only).
  */
object Harness extends AdaptiveSparkPlanHelper {

  /** The pipeline mix: of each family's candidates, the two whose warm
    * pass plus DuckDB oracle cost least (perfbench/README.md has the
    * measured times and the one entry from outside the candidates).
    */
  val Mix: Seq[String] = Seq(
    "q_window", "q_range_join", // relational
    "t3_langid", "d11_passage_dedup", // text / dedup
    "s1_knn_brute", "s3_knn_ivf", // vector
    "q_kcore", "q_pagerank", // graph
    "p5_budget_select", "p1_hash_sample") // LM / stats

  /** Wall seconds of timed runs per entry and pass, at least one run. */
  val EntrySeconds = 0.75

  /** Entries whose timed plans must keep their full output projection. */
  val ProjectionChecked: Set[String] = Set("q1_agg", "d3_simhash", "t3_langid")

  final case class Ctx(spark: SparkSession, trace: Trace, stats: Option[ExecStats],
      work: WorkCpu, opts: Map[String, String], cores: Int) {
    val tmp: String = opts("tmp")
    val data: String = opts("data")
    val seed: Long = opts("seed").toLong
    val seconds: Double = opts("seconds").toDouble
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private def sinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this whole process (every thread, GC and JIT too):
    * the set-up's measure, which includes compiling the code it warms.
    */
  private def cpuNs: Long = os.getProcessCpuTime

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }

  private def say(msg: String): Unit = System.err.println(f"[harness] $sinceJvmStart%.2f s: $msg")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val mainEnteredS = sinceJvmStart
    val mode = args.head
    val opts = args.tail.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cores = opts.getOrElse("cores", "4").toInt
    val trace = new Trace(opts.getOrElse("trace", "0") == "1")
    val spark = trace.span("session", "build")(GraftSession.local(cores))
    val buildS = trace.total("session", "build")
    spark.conf.set("spark.graft.artifactDir", s"${opts("tmp")}/artifacts")
    val stats = if (trace.enabled) Some(new ExecStats(spark, cores)) else None
    val ctx = Ctx(spark, trace, stats, new WorkCpu(spark), opts, cores)
    // managed tables (the incremental indexes) land in a per-run
    // database located under the run's temp root
    val db = s"pb_${ctx.seed}_${ProcessHandle.current().pid()}"
    val out = mutable.LinkedHashMap[String, Any]()
    // GraftSession.local pins spark.sql.warehouse.dir to a fixed path
    // outside the run's temp root: the catalog creates that directory
    // on first use, and the index families' single-writer leases make
    // `<prefix>_lease` directories in it. Note what existed, to undo
    // only what this run created (empty directories) once the session
    // has stopped.
    val warehouse = new File(
      new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    val existing = Iterator.iterate(warehouse)(_.getParentFile).takeWhile(_ != null)
      .find(_.exists()).get
    def listed(d: File): Set[File] = Option(d.listFiles()).map(_.toSet).getOrElse(Set.empty)
    val before = listed(warehouse)
    try {
      trace.span("session", "first_action") {
        if (mode == "ingest_serve") {
          spark.sql(s"CREATE DATABASE $db LOCATION '${ctx.tmp}/warehouse'")
          spark.catalog.setCurrentDatabase(db)
        }
        spark.range(1000).selectExpr("sum(id)").collect()
      }
      out("layers") = mutable.LinkedHashMap[String, Any](
        "session.jvm_start_s" -> mainEnteredS,
        "session.build_s" -> buildS,
        "session.first_action_s" -> trace.total("session", "first_action"))
      say("session up")
      mode match {
        case "pipeline_warm" => pipeline(ctx, out)
        case "ingest_serve" => ingest(ctx, out)
        case "cli_layers" => cliLayers(ctx, out)
      }
      if (trace.enabled) {
        functionProbes(ctx, layers(out))
        layers(out)("trace.spans") = trace.count
      }
      if (mode == "ingest_serve") spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    } finally {
      spark.stop()
    }
    val created = (listed(warehouse) -- before).toSeq ++
      Iterator.iterate(warehouse)(_.getParentFile).takeWhile(_ != existing)
    out("outside_dirs_created") = created.filter(_.exists()).map(_.getPath)
    created.foreach(d => if (d.isDirectory && Option(d.list()).exists(_.isEmpty)) d.delete())
    if (trace.enabled) write(opts("trace_out"), Json(trace.toJson))
    write(opts("out"), Json(out))
  }

  private def layers(out: mutable.Map[String, Any]): mutable.Map[String, Any] =
    out("layers").asInstanceOf[mutable.Map[String, Any]]

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"))

  // ------------------------------------------------------------------
  // pipeline_warm
  // ------------------------------------------------------------------

  /** Per-entry plan-layer numbers from the QueryExecution of its
    * materializing action.
    */
  private def planStats(df: DataFrame, qe: Option[QueryExecution]): Map[String, Double] = {
    val own = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
    qe match {
      case None => Map("analysis_s" -> own / 1e3)
      case Some(q) =>
        val ph = q.tracker.phases
        def phase(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L) / 1e3
        val plan: SparkPlan = q.executedPlan
        Map(
          "analysis_s" -> (own / 1e3 + phase("analysis")),
          "optimization_s" -> phase("optimization"),
          "physical_s" -> phase("planning"),
          "graft_rules_s" -> q.tracker.rules.collect {
            case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs / 1e9
          }.sum,
          "plan_chars" -> q.optimizedPlan.toString.length.toDouble,
          "exchanges" -> collect(plan) {
            case e: ShuffleExchangeLike => e
            case e: BroadcastExchangeLike => e
          }.size.toDouble,
          "single_partition_windows" -> collect(plan) {
            case w: WindowExec if w.partitionSpec.isEmpty => w
          }.size.toDouble)
    }
  }

  /** The materializing action's projection must be the entry's whole
    * schema: a sink that lets the optimizer prune columns (as `count()`
    * does) would time less work than the entry asks for.
    */
  private def checkProjection(spark: SparkSession, name: String, df: DataFrame): Option[String] = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.synchronized(seen += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try noop(df)
    finally {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    val widths = seen.flatMap(_.optimizedPlan.collectFirst {
      case w: V2WriteCommand => w.query.output.map(_.name)
    })
    if (widths.exists(_ == df.columns.toSeq)) None
    else Some(s"$name: materialized projection ${widths.mkString(";")} != ${df.columns.mkString(",")}")
  }

  private def pipeline(ctx: Ctx, out: mutable.Map[String, Any]): Unit = {
    import ctx._
    val names = Mix
    val rnd = new scala.util.Random(seed)
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val artifactDir = new File(s"$tmp/artifacts")
    def artifactCount = Option(artifactDir.list()).map(_.length).getOrElse(0)
    /** Dumps entry `n`'s result, untimed, to `out/<pass>/<n>` for
      * run.py's oracle check; returns its name and wall for the log.
      */
    def dump(pass: String, n: String): String = {
      attempted += 1
      val t = now
      try SparkEntry.queries(n)(spark, data).write.mode("overwrite").parquet(s"$tmp/out/$pass/$n")
      catch { case e: Throwable => errors += s"$pass $n: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      f"$n ${secs(t)}%.2f"
    }
    // untimed warm-up: the cold pass builds the artifacts; its results
    // are dumped for the oracle check
    trace.span("session", "warm_pass") {
      say(s"cold pass dumped: ${rnd.shuffle(names).map(dump("cold", _)).mkString(", ")}")
    }
    write(s"$tmp/oracle_sql.json", Json(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    val setupS = sinceJvmStart
    val setupCpuS = cpuNs / 1e9
    say("pipeline set up")
    val artifactsWarm = artifactCount
    val calibration = new Calibration(cores)
    (1 to 3).foreach(_ => calibration.sample())
    val calib = mutable.ArrayBuffer.empty[Double]
    val perEntry = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val perEntryCpu = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val layerSamples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def sample(k: String, v: Double) = layerSamples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def add(m: mutable.Map[String, mutable.ArrayBuffer[Double]], n: String, v: Double) =
      m.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += v
    val minPasses = opts.getOrElse("min_ops", "3").toInt
    val t0 = now
    var pass = 0
    while (pass < minPasses || secs(t0) < seconds) {
      // a traced run alternates traced and untraced passes; the gap
      // between their walls is the tracing overhead
      val tracedPass = trace.enabled && pass % 2 == 0
      val before = artifactCount
      val passSums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var passWall = 0.0
      var passWork = 0.0
      rnd.shuffle(names).foreach { n =>
        attempted += 1
        try {
          // the first pass dumps each entry's result again, now from the
          // warm session and artifacts the timed runs use, for the
          // oracle check; every pass then runs the entry once untimed
          // into the sink (the first run into it, after the dump, took
          // up to twice the CPU of the next)
          if (pass == 0) dump("warm", n)
          calib += calibration.sample()
          noop(SparkEntry.queries(n)(spark, data))
          if (tracedPass) {
            val st = stats.get
            st.begin()
            val e0 = now
            val df = trace.span("operators", n)(SparkEntry.queries(n)(spark, data))
            val buildS = secs(e0)
            val buildJobs = st.jobsSoFar
            trace.span("exec", n)(noop(df))
            val wall = secs(e0)
            val ex = st.end(wall - buildS)
            val ps = planStats(df, st.queries.lastOption)
            ps.foreach { case (k, v) => passSums(s"plans.$k") += v }
            ex.foreach { case (k, v) => passSums(s"exec.$k") += v }
            passSums("operators.build_s") += buildS
            passSums("operators.build_jobs") += buildJobs
            add(perEntry, n, wall)
            passWall += wall
            sample(s"entry.$n.build_s", buildS)
            sample(s"entry.$n.plan_s", ps.collect {
              case (k, v) if k.endsWith("_s") && k != "graft_rules_s" => v
            }.sum)
            sample(s"entry.$n.exec_s", wall - buildS)
          } else {
            // timed runs until they add up to EntrySeconds of wall, so
            // the sub-second entries are sampled several times
            val walls = mutable.ArrayBuffer.empty[Double]
            val cpus = mutable.ArrayBuffer.empty[Double]
            while (walls.sum < EntrySeconds) {
              val r0 = now
              cpus += work.measure(noop(SparkEntry.queries(n)(spark, data)))._2
              walls += secs(r0)
            }
            say(f"$n: work cpu ${cpus.map(c => f"$c%.3f").mkString(" ")}")
            walls.foreach(add(perEntry, n, _))
            cpus.foreach(add(perEntryCpu, n, _))
            passWall += median(walls.toSeq)
            passWork += median(cpus.toSeq)
          }
        } catch { case e: Throwable => errors += s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      say(f"pass $pass: $passWall%.3f s" + (if (tracedPass) "" else f", work cpu $passWork%.3f s"))
      if (tracedPass) tracedWalls += passWall
      else {
        untracedWalls += passWall
        passCpu += passWork
      }
      if (tracedPass) {
        passSums("exec.core_idle_share") =
          math.max(0.0, 1.0 - passSums("exec.task_busy_s") / (passSums("exec.action_s") * cores))
        passSums.foreach { case (k, v) => sample(k, v) }
        sample("operators.artifacts_built", (artifactCount - before).toDouble)
      }
      pass += 1
    }
    // traced runs also check the sink itself on the entries whose
    // plans a pruning action shrinks the most
    if (trace.enabled) ProjectionChecked.toSeq.sorted.foreach { n =>
      attempted += 1
      errors ++= checkProjection(spark, n, SparkEntry.queries(n)(spark, data))
    }
    out("setup_s") = setupS
    out("setup_cpu_s") = setupCpuS
    out("calibration_s") = median(calib.toSeq)
    out("ops") = untracedWalls
    out("ops_cpu") = passCpu
    out("steps") = perEntry.map { case (n, ts) => n -> median(ts.toSeq) }
    out("steps_cpu") = perEntryCpu.map { case (n, ts) => n -> median(ts.toSeq) }
    out("disk_bytes") = dirBytes(artifactDir.getPath)
    out("attempted") = attempted
    out("errors") = errors
    val l = layers(out)
    l("session.warm_pass_s") = trace.total("session", "warm_pass")
    l("session.artifacts_built") = artifactsWarm
    layerSamples.foreach { case (k, v) => l(k) = median(v.toSeq) }
    if (trace.enabled)
      l("trace.overhead_s") = median(tracedWalls.toSeq) - median(untracedWalls.toSeq)
  }

  // ------------------------------------------------------------------
  // ingest_serve
  // ------------------------------------------------------------------

  private def ingest(ctx: Ctx, out: mutable.Map[String, Any]): Unit = {
    import ctx._
    import spark.implicits._
    def ids(key: String): Seq[Seq[Long]] =
      new String(Files.readAllBytes(Paths.get(opts(key))), "UTF-8").split("\n").toSeq
        .filter(_.nonEmpty).map(_.split(",").toSeq.map(_.toLong))
    val docBatches = ids("doc_batches")
    val vecBatches = ids("vec_batches")
    val docs = GraftSession.table(spark, data, "documents").select(col("doc_id"), col("text"))
    val emb = GraftSession.table(spark, data, "embeddings")
    val heldDocs = docBatches.flatten.toDF("doc_id")
    val heldVecs = vecBatches.flatten.toDF("vec_id")
    val P = "pb_pass"
    val V = "pb_ivf"
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    // standing indexes over the corpus minus every held-out batch
    val (cents, qWins, qVecs, pairs0) = trace.span("session", "warm_pass") {
      val corpusWins = IncrementalPassages.windowHashes(
        docs.join(broadcast(heldDocs), Seq("doc_id"), "left_anti"))
      IncrementalPassages.buildWindowIndex(corpusWins, P)
      IncrementalPassages.pairsFromWindows(corpusWins).write.parquet(s"$tmp/pairs0")
      IncrementalPassages.refreshHotWindows(spark, P)
      val cents = CentroidArtifact.embeddingCentroids(spark, data, k = 16)
      IncrementalIvf.buildIndex(emb.join(broadcast(heldVecs), Seq("vec_id"), "left_anti"),
        "vec_id", "embedding", cents, V)
      // the served query batch: seed-chosen corpus docs and vectors
      val r = new scala.util.Random(seed)
      val held = docBatches.flatten.toSet
      val qd = r.shuffle((0L until 5000L).filterNot(held).toList).take(32)
      val heldV = vecBatches.flatten.toSet
      val qv = r.shuffle((0L until 2000L).filterNot(heldV).toList).take(64)
      val qWins = IncrementalPassages.windowHashes(docs.filter(col("doc_id").isin(qd: _*)))
        .withColumnRenamed("doc_id", "qid")
      qWins.write.parquet(s"$tmp/qwins")
      (cents, spark.read.parquet(s"$tmp/qwins"),
        emb.filter(col("vec_id").isin(qv: _*)), spark.read.parquet(s"$tmp/pairs0"))
    }
    def passageHits: DataFrame =
      qWins.join(IncrementalPassages.servableIndex(spark, P), Seq("h"))
        .filter(col("qid") =!= col("doc_id"))
        .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
    def vecHits: DataFrame =
      IncrementalIvf.knnFromIndex(spark, qVecs, "vec_id", "embedding", 5, cents, 2, V)
    def serve(): Seq[String] =
      (passageHits.collect().map(_.mkString("p|", "|", "")).toSeq ++
        vecHits.collect().map(_.mkString("v|", "|", "")).toSeq).sorted
    def pairsOf(df: DataFrame): Seq[String] =
      df.select("doc_a", "doc_b", "n_shared").collect().map(_.mkString("|")).toSeq.sorted

    val steps = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val stepsCpu = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var workSoFar = 0.0
    def timed[T](step: String)(body: => T): T = {
      val t = now
      val (r, c) = work.measure(trace.span("operators", step)(body))
      steps.getOrElseUpdate(step, mutable.ArrayBuffer.empty) += secs(t)
      stepsCpu.getOrElseUpdate(step, mutable.ArrayBuffer.empty) += c
      workSoFar += c
      r
    }
    val calibration = new Calibration(cores)
    val calib = mutable.ArrayBuffer.empty[Double]
    val layerSamples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def sample(k: String, v: Double) = layerSamples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    var pairs = pairs0
    val pairsBase = pairsOf(pairs0)
    val served0 = serve()
    val cycleWalls = mutable.ArrayBuffer.empty[Double]
    val cycleCpu = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]

    /** admit → serve → retract → serve over held-out batch `i`. */
    def cycle(i: Int, record: Boolean): Unit = {
      val bDocs = docs.filter(col("doc_id").isin(docBatches(i): _*))
      val bVecs = emb.filter(col("vec_id").isin(vecBatches(i): _*))
      val tracedCycle = record && trace.enabled && i % 2 == 0
      if (record) calib += calibration.sample()
      stats.foreach(s => if (tracedCycle) s.begin())
      val c0 = now
      val w0 = workSoFar
      def step[T](name: String)(body: => T): T =
        if (record) timed(name)(body) else body
      val admitted = step("admit") {
        val m = IncrementalPassages.admitBatch(spark, IncrementalPassages.windowHashes(bDocs), pairs, P)
        IncrementalIvf.appendBatch(spark, bVecs, "vec_id", "embedding", cents, V)
        m
      }
      step("serve")(serve())
      val retracted = step("retract") {
        val m = IncrementalPassages.retractBatch(spark, IncrementalPassages.windowHashes(bDocs), admitted, P)
        IncrementalIvf.retractBatch(spark, bVecs.select(col("vec_id")), V)
        m
      }
      val served = step("serve")(serve())
      val wall = secs(c0)
      val cpu = workSoFar - w0
      say(f"cycle $i: $wall%.3f s, work cpu $cpu%.3f s")
      if (tracedCycle) stats.get.end(wall).foreach { case (k, v) => sample(s"exec.$k", v) }
      if (record) {
        cycleWalls += wall
        cycleCpu += cpu
        if (trace.enabled) (if (tracedCycle) tracedWalls else untracedWalls) += wall
      }
      // retract(admit(x)) == x, and serving is unchanged by the cycle
      attempted += 2
      if (pairsOf(retracted) != pairsBase) errors += s"cycle $i: retract(admit(pairs)) != pairs"
      if (served != served0) errors += s"cycle $i: served results changed across the cycle"
      if (tracedCycle) sample("operators.dead_rows", deadRows())
      pairs = retracted
    }
    def deadRows(): Double =
      Seq((P, "doc_id"), (V, "vec_id")).map { case (p, c) =>
        Tombstones.deadIds(spark, p, c).map(_.count()).getOrElse(0L)
      }.sum.toDouble
    def compactAll(record: Boolean): Unit = {
      val tracedCompact = record && trace.enabled
      stats.foreach(s => if (tracedCompact) s.begin())
      val t = now
      def body(): Unit = {
        IncrementalPassages.compact(spark, P)
        IncrementalIvf.compact(spark, V)
      }
      if (record) timed("compact")(body()) else body()
      if (tracedCompact)
        sample("operators.compact_bytes_rewritten", stats.get.end(secs(t))("output_bytes"))
      attempted += 1
      val served = serve()
      if (served != served0) errors += "compact changed served results"
    }
    // untimed warm-up cycle (batch 0) and compaction
    cycle(0, record = false)
    compactAll(record = false)
    val setupS = sinceJvmStart
    val setupCpuS = cpuNs / 1e9
    say("indexes built")
    (1 to 3).foreach(_ => calibration.sample())
    val minCycles = opts.getOrElse("min_ops", "3").toInt
    val t0 = now
    var i = 1
    while ((i - 1 < minCycles || secs(t0) < seconds) && i < docBatches.size) {
      cycle(i, record = true)
      if (i % 3 == 0) compactAll(record = true)
      i += 1
    }
    if (i - 1 < minCycles) errors += s"only ${i - 1} held-out batches for $minCycles cycles"
    // at least one timed compaction per run
    if (!steps.contains("compact")) compactAll(record = true)
    val indexBytes = dirBytes(s"$tmp/warehouse")
    out("setup_s") = setupS
    out("setup_cpu_s") = setupCpuS
    out("calibration_s") = median(calib.toSeq)
    out("ops") = cycleWalls
    out("ops_cpu") = cycleCpu
    out("steps") = steps.map { case (k, v) => k -> median(v.toSeq) }
    out("steps_cpu") = stepsCpu.map { case (k, v) => k -> median(v.toSeq) }
    out("disk_bytes") = indexBytes
    out("attempted") = attempted
    out("errors") = errors
    val l = layers(out)
    l("session.warm_pass_s") = trace.total("session", "warm_pass")
    l("session.artifacts_built") = Option(new File(s"$tmp/artifacts").list()).map(_.length).getOrElse(0)
    Seq("admit", "retract", "compact", "serve").foreach { s =>
      l(s"operators.${s}_s") = median(steps.getOrElse(s, Nil).toSeq)
    }
    l("operators.index_bytes") = indexBytes
    if (trace.enabled) {
      // probe yield: rows served over candidate rows the probes joined
      val candP = qWins.join(IncrementalPassages.servableIndex(spark, P), Seq("h"))
        .filter(col("qid") =!= col("doc_id")).count()
      val candV = IncrementalIvf.servedCells(spark, V)
        .join(qVecs.select(col("vec_id").as("qid"),
          explode(IvfIndex.probeCids(VectorFunctions.toDouble(col("embedding")), cents, 2)).as("cid")),
          Seq("cid")).count()
      val returned = passageHits.count() + vecHits.count()
      l("operators.probe_yield") = returned.toDouble / math.max(1L, candP + candV)
      l("trace.overhead_s") = median(tracedWalls.toSeq) - median(untracedWalls.toSeq)
    }
    layerSamples.foreach { case (k, v) => l(k) = median(v.toSeq) }
  }

  // ------------------------------------------------------------------
  // cli_layers: the CLI's conversion, split by layer, in process
  // ------------------------------------------------------------------

  private def cliLayers(ctx: Ctx, out: mutable.Map[String, Any]): Unit = {
    import ctx._
    val csv = opts("csv")
    val csvBytes = new File(csv).length().toDouble
    val st = stats.get
    val l = layers(out)
    def window[T](layer: String, name: String)(body: => T): (T, Map[String, Double]) = {
      st.begin()
      val t = now
      val r = trace.span(layer, name)(body)
      (r, st.end(secs(t)))
    }
    val (schema, inf) = window("sources", "infer")(
      CsvToParquet.resolveSchema(spark, csv, ConvertOptions()))
    val schemaFile = s"$tmp/schema.json"
    write(schemaFile, ArrowSchemaJson.render(schema))
    val (_, parse) = window("sources", "parse")(
      noop(CsvToParquet.readTyped(spark, csv, schema.toSpark, header = true, delimiter = ',')
        .coalesce(1)))
    val outFile = s"$tmp/inproc.parquet"
    def convert(): Unit = {
      CsvToParquet.convertToSingleFile(spark, csv, outFile, ConvertOptions(schemaFile = Some(schemaFile)))
      ()
    }
    // an untimed conversion warms the path; then one traced and one
    // untraced conversion, whose gap is the tracing overhead
    convert()
    val (_, conv) = window("sources", "single_file")(convert())
    val u0 = now
    convert()
    val untraced = secs(u0)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(outFile), spark.sparkContext.hadoopConfiguration))
    val rowGroups = try reader.getRowGroups.size finally reader.close()
    l("sources.infer_s") = inf("action_s")
    l("sources.infer_bytes_ratio") = inf("input_bytes") / csvBytes
    l("sources.parse_s") = parse("action_s")
    l("sources.single_file_s") = conv("action_s")
    l("sources.encode_commit_s") = conv("action_s") - parse("action_s")
    l("sources.write_tasks") = conv("tasks")
    l("sources.write_core_share") = conv("task_busy_s") / (conv("action_s") * cores)
    l("sources.row_groups") = rowGroups
    conv.foreach { case (k, v) => l(s"exec.$k") = v }
    l("trace.overhead_s") = conv("action_s") - untraced
    out("inproc_parquet") = outFile
    out("attempted") = 3
    out("errors") = Seq.empty[String]
  }

  // ------------------------------------------------------------------
  // functions: isolated probes of the public column builders
  // ------------------------------------------------------------------

  private def functionProbes(ctx: Ctx, l: mutable.Map[String, Any]): Unit = {
    import ctx._
    val vecs = GraftSession.table(spark, data, "embeddings")
      .select(VectorFunctions.toDouble(col("embedding")).as("v"))
      .crossJoin(spark.range(50).select(col("id").as("rep")))
      .select(col("v")).repartition(cores)
    val vecRows = vecs.localCheckpoint(eager = true)
    val cents = GraftSession.table(spark, data, "embeddings").orderBy("vec_id").limit(16)
      .select(VectorFunctions.toDouble(col("embedding"))).collect().zipWithIndex
      .map { case (r: Row, i) => i -> r.getSeq[Double](0) }.toSeq
    val docRows = GraftSession.table(spark, data, "documents").filter(col("doc_id") < 1000)
      .select(col("text")).repartition(cores).localCheckpoint(eager = true)
    val nVec = vecRows.count().toDouble
    val nDoc = docRows.count().toDouble
    def rate(name: String, df: DataFrame, n: Double): Unit = {
      noop(df)
      val ts = (1 to 3).map { _ => val t = now; trace.span("functions", name)(noop(df)); secs(t) }
      l(s"functions.${name}_rows_s") = n / median(ts)
      say(f"probe $name: ${median(ts)}%.3f s")
    }
    rate("nearest_cell", vecRows.select(NearestCell(col("v"), cents).as("c")), nVec)
    rate("probe_cells", vecRows.select(ProbeCells(col("v"), cents, 2).as("c")), nVec)
    rate("dot", vecRows.select(VectorFunctions.dot(col("v"), col("v")).as("c")), nVec)
    rate("minhash", docRows.select(HashFunctions.minhashSignature(
      TextFunctions.charShingles(col("text"), 5), 8).as("c")), nDoc)
    rate("simhash", docRows.select(HashFunctions.simhashHex(
      TextFunctions.wsTokens(col("text"))).as("c")), nDoc)
    rate("winnowing", docRows.select(TextFunctions.winnowing(col("text")).as("c")), nDoc)
  }
}
