package graft.perfbench

import graft.classify.Classifier
import graft.extract.Core8Extractor
import graft.matching.{AhoCorasick, Corpora, CorpusTable}
import graft.pipeline.ResumableJob
import graft.textops.TextOps
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** The repository benchmark: one workload at one seed.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <work dir> --detail <file> [--record <metric,...>]
  * }}}
  *
  * Set-up generates the workload's inputs from the seed, evaluates its
  * oracles and warms the JVM; then closed-loop runs (each from a fresh
  * session into a fresh output dir, checked after it commits) repeat
  * for `seconds`. The last stdout line is the summary record; the full
  * per-run record goes to the detail file.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "docs_per_s" -> "1/s", "pages_per_s" -> "1/s",
    "peak_heap_mb" -> "MB")

  /** Per-layer metrics of the traced run. A layer the workload never
    * calls reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "extract.entities_ns_per_doc" -> "ns", "extract.entities_per_doc" -> "count",
    "extract.entity_chars_per_doc" -> "count", "extract.flags_ns_per_doc" -> "ns",
    "extract.clean_ns_per_doc" -> "ns", "classify.classify_ns_per_doc" -> "ns",
    "classify.domain_entities_ns_per_doc" -> "ns", "normalize.canonicalize_ns_per_doc" -> "ns",
    "facts.spo_ns_per_doc" -> "ns", "html.convert_ns_per_doc" -> "ns",
    "pdf.extract_ns_per_doc" -> "ns", "classify.entity_skip_share" -> "ratio",
    "classify.deep_domain_share" -> "ratio", "pipeline.process_doc_ns_per_doc" -> "ns",
    "trace.stage_coverage" -> "ratio", "pipeline.parallel_eff" -> "ratio",
    "sources.scan_mb" -> "MB", "pipeline.shuffle_write_mb" -> "MB",
    "pipeline.shuffle_fetch_wait_s" -> "s", "pipeline.fused_task_s" -> "s",
    "pipeline.fused_cpu_s" -> "s", "pipeline.task_skew" -> "ratio", "pipeline.gc_s" -> "s",
    "pipeline.spill_mb" -> "MB", "pipeline.cache_mb" -> "MB", "pipeline.write_job_s" -> "s",
    "pipeline.lineage_job_s" -> "s", "pipeline.completed_buckets_s" -> "s",
    "sink.output_mb" -> "MB", "sink.files" -> "count", "pipeline.rejects" -> "count",
    "matching.corpus_install_s" -> "s", "textops.quality_s" -> "s",
    "textops.dedup_exact_s" -> "s", "textops.dup_groups_s" -> "s",
    "textops.contamination_s" -> "s", "textops.token_budget_s" -> "s",
    "textops.repetition_s" -> "s", "textops.funnel_join_s" -> "s", "textops.lsh_pairs" -> "count",
    "textops.shuffle_mb" -> "MB", "textops.kept_share" -> "ratio", "trace.overhead" -> "ratio")

  /** Input generations in set-up; setup_s counts the median one. */
  val SetupReps = 3
  /** Timed runs made even when `seconds` ran out first. */
  val MinRuns = 3
  /** In a traced process: untraced and traced runs made, each. */
  val MinRunsEachTraced = 2
  /** Passes of processDoc over the inputs in set-up, so the document
    * function is compiled before the warm-up run.
    */
  val WarmDocPasses = 2
  /** Docs of an extract workload the traced run's stage probe replays. */
  val ProbeDocs = 300
  /** Passes of the stage probe in a traced run. */
  val ProbePasses = 3
  /** Timed runs stop being started after this many seconds of process
    * time, so a slow program still exits inside the 180 s limit.
    */
  val StopStartingAfterS = 120.0
  /** Longest wait for an idle JIT before a timed run. */
  val QuietMaxS = 4.0
  /** Idle time that counts as a drained JIT queue. */
  val QuietWindowMs = 200L

  /** `record`: the metrics of the summary line, in order; empty means
    * every metric of the mode.
    */
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, detail: String, record: Seq[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t") },
      need("work"), need("detail"), m.get("record").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
  }

  final case class Run(label: String, traced: Boolean, quietS: Double, wallS: Double, checkS: Double, jitS: Double,
      gcS: Double, heapMb: Double,
      problems: Seq[String], pages: Long, rejects: Long, layers: Seq[(String, Double)],
      executions: Seq[(String, Double)])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0Ms = sys.props.get("perfbench.t0").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val workload = Workloads.byName(a.workload)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every run has a session of its own; with artifact isolation each
      // session also gets a class loader of its own, which keys Spark's
      // generated-code cache, so every run would compile and load its
      // generated classes anew and the JIT never settle. A single-session
      // application reuses them; without isolation these sessions do too
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3
    try {
      val env = Env(cores, a.seed, sys.props.getOrElse("perfbench.python", "python3"),
        sys.props.getOrElse("perfbench.home", "perfbench"))
      new Bench(spark, workload, env, a, t0Ms, sessionS).run()
    } finally spark.stop()
  }
}

final class Bench(spark: SparkSession, workload: Workload, env: Env, a: Main.Args,
    t0Ms: Long, sessionS: Double) {
  import Main._

  private val sc = spark.sparkContext
  private val listener = new LayerListener
  private val heap = new HeapWatch
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private val MB = LayerListener.MB

  private def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Waits, at most `QuietMaxS`, until the JIT compilers have been idle
    * for `QuietWindowMs`: the compilation queued by the previous run and
    * its check then does not compete with the next timed run's tasks.
    * Returns the seconds waited.
    */
  private def quiesce(): Double = secs {
    val deadline = System.nanoTime() + (QuietMaxS * 1e9).toLong
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(QuietWindowMs)
      val now = jit.getTotalCompilationTime
      quiet = now == last
      last = now
    }
  }._2

  private def processS: Double = (System.currentTimeMillis() - t0Ms) / 1e3

  /** A session no earlier run has touched: new SessionCache keys, no
    * cached frames.
    */
  private def freshSession(): SparkSession = {
    val s = spark.newSession()
    s.catalog.clearCache()
    s
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
      finally paths.close()
    }
  }

  /** The corpus bundle broadcast and installed, and the automatons a
    * fresh executor would compile on first use rebuilt.
    */
  private def installCorpus(s: SparkSession): Double = secs {
    AhoCorasick.evict(_ => true)
    CorpusTable.broadcastInstaller(s, Corpora.bundle)()
    Core8Extractor.extractAll("Contact John Smith in Chicago on March 3, 2021 about OSHA.")
    Classifier.classify("OSHA safety inspection report for the construction site.")
  }._2

  // ------------------------------------------------------------ a run

  private def checkRun(p: Prepared, s: SparkSession, out: String, result: Try[Long]): Checked =
    result match {
      case Failure(e) => Checked(Seq(s"run threw ${e.toString}"), 0L, 0L)
      case Success(v) =>
        try p.check(s, out, v)
        catch { case e: Exception => Checked(Seq(s"check threw ${e.toString}"), 0L, 0L) }
    }

  /** An untimed, unchecked run; returns its failure, which the timed
    * runs would show again.
    */
  private def warmUp(in: Inputs, label: String): Option[String] = {
    val out = s"${a.work}/out-$label"
    try Try(in.run(freshSession(), out)).failed.toOption.map(_.toString)
    finally deleteTree(out)
  }

  private def oneRun(in: Inputs, p: Prepared, label: String, traced: Boolean): Run = {
    val quietS = quiesce()
    val s = freshSession()
    val out = s"${a.work}/out-$label"
    if (traced) { listener.reset(); sc.addSparkListener(listener) }
    heap.start()
    val jit0 = jit.getTotalCompilationTime
    val gc0 = gcMs
    val (result, wall) = secs(Try(in.run(s, out)))
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    val gcS = (gcMs - gc0) / 1e3
    val heapMb = heap.stop() / MB
    val snap =
      if (!traced) None
      else {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
        Some(listener.snapshot())
      }
    val layers = (snap, result) match {
      case (Some(sn), Success(_)) => sparkLayers(sn, s, out, in)
      case _ => Seq.empty
    }
    val (checked, checkS) = secs(checkRun(p, s, out, result))
    deleteTree(out)
    Run(label, traced, quietS, wall, checkS, jitS, gcS, heapMb, checked.problems, checked.pages, checked.rejects,
      if (layers.isEmpty || in.snapshot.isEmpty) layers
      else layers :+ ("pipeline.rejects" -> checked.rejects.toDouble),
      snap.toSeq.flatMap(_.execs.map(e => s"${e.id} ${e.description}" -> e.seconds)))
  }

  // ------------------------------------------------- spark layer metrics

  private def fileStats(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L)
    val paths = Files.walk(p)
    try {
      val files = paths.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.startsWith("_") || f.getFileName.toString.startsWith("."))
        .toSeq
      (files.size.toLong, files.map(Files.size(_)).sum)
    } finally paths.close()
  }

  /** Layer metrics of one traced run, from the listener's record. */
  private def sparkLayers(sn: LayerListener.Snapshot, s: SparkSession, out: String,
      in: Inputs): Seq[(String, Double)] = {
    val shuffleReading = sn.tasks.filter(_.shuffleReadBytes > 0).map(_.stage).toSet
    val common = Seq(
      "pipeline.gc_s" -> sn.tasks.map(_.gcMs).sum / 1e3,
      "pipeline.spill_mb" -> sn.tasks.map(_.spillBytes).sum / MB,
      "pipeline.cache_mb" -> sn.cachePeakBytes / MB)
    in.snapshot match {
      case None =>
        common ++ Seq(
          "sources.scan_mb" ->
            sn.tasks.filterNot(t => shuffleReading(t.stage)).map(_.inputBytes).sum / MB,
          "textops.shuffle_mb" -> sn.tasks.map(_.shuffleWriteBytes).sum / MB)
      case Some(snapshotId) =>
        val dataExecs = sn.execs.filter(_.writes(s"$out/data"))
        val dataTasks = dataExecs.flatMap(sn.tasksOf)
        val fused = dataTasks.filter(t => shuffleReading(t.stage))
        val lineageExecs = sn.execs.filter(e => e.writes(s"$out/lineage") ||
          e.description.startsWith("count at ResumableJob"))
        val (_, completedS) = secs(ResumableJob.completedBuckets(s, out, snapshotId))
        val (files, bytes) = fileStats(s"$out/data")
        val runMs = fused.map(_.runMs.toDouble)
        common ++ Seq(
          "sources.scan_mb" ->
            dataTasks.filterNot(t => shuffleReading(t.stage)).map(_.inputBytes).sum / MB,
          "pipeline.shuffle_write_mb" -> dataTasks.map(_.shuffleWriteBytes).sum / MB,
          "pipeline.shuffle_fetch_wait_s" -> fused.map(_.fetchWaitMs).sum / 1e3,
          "pipeline.fused_task_s" -> runMs.sum / 1e3,
          "pipeline.fused_cpu_s" -> fused.map(_.cpuNs).sum / 1e9,
          "pipeline.task_skew" -> (if (runMs.isEmpty) 0.0 else runMs.max / math.max(Stats.median(runMs), 1.0)),
          "pipeline.write_job_s" -> dataExecs.map(_.seconds).sum,
          "pipeline.lineage_job_s" -> lineageExecs.map(_.seconds).sum,
          "pipeline.completed_buckets_s" -> completedS,
          "sink.output_mb" -> bytes / MB,
          "sink.files" -> files.toDouble)
    }
  }

  // ------------------------------------------------ textops stage times

  /** Each funnel stage timed in one fresh session, in dependency order,
    * the funnel itself last (its memoized parts are warm by then).
    */
  private def textopsLayers(dir: String): Seq[(String, Double)] = {
    val s = freshSession()
    def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (_, quality) = secs(materialize(TextOps.qualityScore(s, dir)))
    val (_, exact) = secs(materialize(TextOps.dedupExact(s, dir)))
    val (_, groups) = secs(materialize(TextOps.dupGroups(s, dir)))
    val lshPairs = TextOps.minhashLsh(s, dir).count()
    val (_, contamination) = secs(materialize(TextOps.contamination(s, dir)))
    val (_, budget) = secs(materialize(TextOps.tokenBudget(s, dir)))
    val (_, repetition) = secs(materialize(TextOps.repetition(s, dir)))
    val funnel = TextOps.curationFunnel(s, dir)
    val (_, join) = secs(materialize(funnel))
    val kept = funnel.agg(avg(col("keep_final").cast("double"))).first().getDouble(0)
    Seq("textops.quality_s" -> quality, "textops.dedup_exact_s" -> exact,
      "textops.dup_groups_s" -> groups, "textops.contamination_s" -> contamination,
      "textops.token_budget_s" -> budget, "textops.repetition_s" -> repetition,
      "textops.funnel_join_s" -> join, "textops.lsh_pairs" -> lshPairs.toDouble,
      "textops.kept_share" -> kept)
  }

  // --------------------------------------------------------- the bench

  def run(): Unit = {
    // set-up: the inputs generated anew SetupReps times (the
    // last copy is used), then the expected outputs once, then warm-up
    val reps = (1 to SetupReps).map { k =>
      val dir = s"${a.work}/input-$k"
      val s = freshSession()
      val installS = installCorpus(s)
      val (inputs, genS) = secs(workload.generate(s, env, dir, workload.docs))
      (dir, inputs, installS, genS)
    }
    reps.init.foreach { case (dir, _, _, _) => deleteTree(dir) }
    val (inputDir, inputs, _, _) = reps.last
    val (prepared, expectS) = secs(inputs.prepare())
    // warm-up: unchecked runs until the JIT has compiled what a run
    // executes. Spark's planning and commit code warms per call, not per
    // row, so this takes a count of runs, not a time
    val (warm, warmS) = secs {
      (1 to WarmDocPasses).foreach(_ => Workloads.extractAll(prepared.rawDocs, env.cores))
      (1 to workload.warmRuns).flatMap(k => warmUp(inputs, s"warm$k"))
    }
    val setupS = sessionS + Stats.median(reps.map(r => r._3 + r._4)) + expectS + warmS

    // timed closed loop; a traced process interleaves untraced and
    // traced runs so their ratio is the tracing overhead
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    val (_, loopS) = secs {
      val t0 = System.nanoTime()
      def enough =
        if (a.trace) runs.count(_.traced).min(runs.count(!_.traced)) >= MinRunsEachTraced
        else runs.size >= MinRuns
      while (!enough ||
          ((System.nanoTime() - t0) / 1e9 < a.seconds && processS < StopStartingAfterS)) {
        // U T T U U T ...: each kind equally often early and late, as the
        // JIT is still speeding runs up
        val traced = a.trace && (runs.size % 4 == 1 || runs.size % 4 == 2)
        runs += oneRun(inputs, prepared, s"run${runs.size}", traced)
      }
    }
    val ok = runs.filter(_.problems.isEmpty)
    val failed = runs.size - ok.size
    val base = if (ok.nonEmpty) ok else runs
    val untraced = base.filterNot(_.traced)
    val wall = Stats.median(untraced.map(_.wallS))
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "docs_per_s" -> Stats.median(untraced.map(r => inputs.docs / r.wallS)),
      "pages_per_s" -> Stats.median(untraced.map(r => r.pages / r.wallS)),
      "peak_heap_mb" -> Stats.median(untraced.map(_.heapMb)))

    var probeProblems = Seq.empty[String]
    // how each reported figure was sampled, for the printed lines
    val sampledBy = scala.collection.mutable.Map.empty[String, String]
      .withDefaultValue(s"median of ${untraced.size} runs")
    sampledBy("setup_s") = s"one set-up; its input generation the median of $SetupReps"
    val perLayer: Seq[(String, Double)] =
      if (!a.trace) Seq.empty
      else {
        val traced = base.filter(_.traced)
        val spark = traced.flatMap(_.layers).groupBy(_._1).toSeq
          .map { case (k, vs) => k -> Stats.median(vs.map(_._2)) }
        val probe =
          if (prepared.rawDocs.isEmpty) Seq.empty
          else {
            val (m, mismatches) = StageProbe.run(prepared.rawDocs.take(ProbeDocs), ProbePasses)
            if (mismatches.nonEmpty)
              probeProblems = Seq(s"stage probe != processDoc on ${mismatches.size} docs, e.g. ${mismatches.head}")
            m
          }
        val textops = if (workload == Curation) textopsLayers(inputDir) else Seq.empty
        val docNs = probe.toMap.getOrElse("pipeline.process_doc_ns_per_doc", 0.0)
        val derived = Seq("trace.overhead" -> (Stats.median(traced.map(_.wallS)) / wall - 1.0)) ++
          (if (docNs == 0.0) Nil
          else Seq("pipeline.parallel_eff" -> (inputs.docs / wall) / (env.cores * 1e9 / docNs)))
        val install = Seq("matching.corpus_install_s" -> Stats.median(reps.map(_._3)))
        val got = (spark ++ probe ++ textops ++ derived ++ install).toMap
        spark.foreach { case (k, _) => sampledBy(k) = s"median of ${traced.size} traced runs" }
        probe.foreach { case (k, _) =>
          sampledBy(k) = s"median of $ProbePasses probe passes over $ProbeDocs docs"
        }
        textops.foreach { case (k, _) => sampledBy(k) = "one pass" }
        derived.foreach { case (k, _) => sampledBy(k) = "derived" }
        install.foreach { case (k, _) => sampledBy(k) = s"median of $SetupReps set-up installs" }
        PerLayer.map { case (k, _) =>
          if (!got.contains(k)) sampledBy(k) = "layer not called by this workload"
          k -> got.getOrElse(k, 0.0)
        }
      }

    val correct = failed == 0 && probeProblems.isEmpty
    val units = (EndToEnd ++ PerLayer).toMap
    val reported = if (a.trace) perLayer else endToEnd
    reported.foreach { case (k, v) => println(f"$k%-38s $v%.6g ${units(k)} (${sampledBy(k)})") }
    (runs.flatMap(r => r.problems.map(p => s"${r.label}: $p")) ++ probeProblems)
      .foreach(p => println(s"FAILED $p"))

    val detail = Seq(
      "workload" -> workload.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cores" -> env.cores, "docs" -> inputs.docs, "correct" -> correct,
      "setup" -> Seq("session_s" -> sessionS, "generate_s" -> reps.map(_._4),
        "corpus_install_s" -> reps.map(_._3), "expected_s" -> expectS, "warmup_s" -> warmS,
        "warmup_runs" -> workload.warmRuns, "warmup_problems" -> warm),
      "loop_s" -> loopS,
      "runs" -> runs.map(r => Seq("label" -> r.label, "traced" -> r.traced, "quiet_s" -> r.quietS, "wall_s" -> r.wallS,
        "check_s" -> r.checkS, "jit_s" -> r.jitS, "gc_s" -> r.gcS,
        "heap_mb" -> r.heapMb, "pages" -> r.pages, "rejects" -> r.rejects,
        "problems" -> r.problems, "layers" -> r.layers, "executions" -> r.executions)),
      "probe_problems" -> probeProblems,
      "metrics" -> reported.map { case (k, v) => k -> Seq("value" -> v, "unit" -> units(k)) })
    Files.writeString(Paths.get(a.detail), Json.render(detail))

    val byName = reported.toMap
    val recorded = if (a.record.isEmpty) reported.map(_._1) else a.record
    val summary = Seq("correct" -> correct, "attempted" -> runs.size, "failed" -> failed,
      "metrics" -> recorded.map { k =>
        k -> Seq("value" -> byName.getOrElse(k, sys.error(s"metric $k is not measured")),
          "unit" -> units(k))
      })
    println(Json.render(summary))
  }
}
