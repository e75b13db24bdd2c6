package graft.pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.SessionHygiene
import graft.linkage.PersonMatching

/** Pipeline benchmark: one of the three reference pipelines, run as a
  * closed loop (one client, jobs back to back, each written to a `noop`
  * sink) against `local[N]` in this JVM.
  *
  * Untraced (`--trace 0`): session start and input set-up, one cold job,
  * the workload's untimed warm-up jobs, then warm jobs for `--seconds`
  * (at least three); prints the end-to-end metrics. Traced (`--trace 1`):
  * the same set-up, cold job and warm-up, two untraced warm jobs as the
  * reference, then one traced job; prints the per-layer metrics. Every
  * job's output is checked outside the timed region.
  *
  * Usage: PipeBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir>
  */
object PipeBench {

  val Layers = Seq("unpack", "normalize", "consensus", "match", "cluster")
  private val LayerFields = Seq("call_s" -> "s", "exec_s" -> "s", "cpu_s" -> "s",
    "jobs" -> "count", "tasks" -> "count", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
    "gc_s" -> "s", "rows_out" -> "rows")

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => LayerFields.map { case (f, u) => s"$l.$f" -> u }) ++ Seq(
      "unpack.cols_out" -> "count", "normalize.cols_out" -> "count",
      "normalize.qa_true" -> "count", "consensus.docs" -> "count",
      "consensus.ambiguous_ratio" -> "ratio",
      "match.candidate_pairs" -> "count", "match.kept_ratio" -> "ratio",
      "match.cap_dropped" -> "count", "match.unmatched" -> "count",
      "cluster.candidate_pairs" -> "count", "cluster.edges" -> "count",
      "cluster.kept_ratio" -> "ratio", "cluster.cc_rounds" -> "count",
      "cluster.components" -> "count", "cluster.max_component" -> "count",
      "core.checkpoints" -> "count", "core.checkpoint_mb" -> "MB", "core.release_s" -> "s",
      "core.jit_cpu_s" -> "s",
      "kernel.pair_ns" -> "ns", "kernel.equal_share" -> "ratio",
      "trace.job_s" -> "s", "trace.overhead_s" -> "s", "trace.span_coverage" -> "ratio")

  /** A traced job reconciles when its layer spans cover its time within this share. */
  val ReconcileTolerance = 0.05
  private val SetupReps = 3
  private val MinWarmJobs = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()), need("work"))
  }

  /** One job's measurements. `wallS`, `cpuS` (work CPU: process CPU
    * without the JIT compiler threads) and `jitS` (the compiler threads)
    * cover the timed region: the pipeline calls, the sink and the release
    * of the job's checkpoints.
    */
  final case class Sample(wallS: Double, cpuS: Double, jitS: Double, storagePeakMb: Double,
      check: Check, error: Option[String]) {
    def ok: Boolean = error.isEmpty && check.ok
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it; the
    * maximum when there are fewer than twenty samples.
    */
  private def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    if (s.size >= 20) (s(s.size - 11), f"p${100.0 * (s.size - 10) / s.size}%.1f of n=${s.size}")
    else (s.last, s"max of n=${s.size}")
  }

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: Exception =>
        System.err.println(s"pipebench: ${e.getMessage}"); sys.exit(2)
    }
    if (!Workloads.names.contains(opts.workload)) {
      System.err.println(s"pipebench: unknown workload ${opts.workload} " +
        s"(known: ${Workloads.names.mkString(", ")})")
      sys.exit(2)
    }
    val code = try run(opts) catch {
      case e: Throwable =>
        System.err.println(s"pipebench: run failed: $e")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  private def run(o: Opts): Int = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val meter = new StorageMeter
    sc.addSparkListener(meter)
    try {
      // set-up: input generation + materialization, several times; the
      // last one is kept
      var w: Workload = null
      val setupTimes = (0 until SetupReps).map { _ =>
        if (w != null) w.drop()
        val s0 = System.nanoTime()
        w = Workloads.setup(o.workload, spark, o.seed)
        (System.nanoTime() - s0) / 1e9
      }
      val setupS = sessionS + median(setupTimes)
      org.apache.spark.PipebenchBus.drain(sc)
      val inputBytes = meter.currentBytes
      say(s"workload=${w.name} seed=${o.seed} cores=${o.cores} records=${w.records}")
      say(s"input ${w.props.render}")
      say(f"setup: session ${sessionS}%.3f s, input ${setupTimes.map(t => f"$t%.3f").mkString("/")} s")

      val samples = collection.mutable.ArrayBuffer.empty[Sample]
      def job(t: Tracer = Tracer.off): Sample = {
        val s = timedJob(spark, meter, inputBytes, w, t)
        // every job must reproduce the first good job's output
        val dig = samples.find(_.ok).getOrElse(s).check.digest
        val status =
          if (s.error.nonEmpty) s"ERROR ${s.error.get}"
          else if (!s.check.ok) s"CHECK FAILED ${s.check.detail}"
          else if (s.check.digest != dig) s"DIGEST ${s.check.digest} differs from the first job's $dig"
          else "ok"
        val fin = if (status == "ok") s else s.copy(error = Some(status))
        samples += fin
        say(f"job ${samples.size}%3d ${s.wallS}%8.3f s  cpu ${s.cpuS}%7.3f s  jit ${s.jitS}%7.3f s  " +
          f"storage ${s.storagePeakMb}%8.1f MB  digest ${s.check.digest}  $status")
        fin
      }

      val cold = job()
      val result =
        if (o.trace) traced(spark, meter, w, o, job)
        else untraced(w, o, setupS, cold, job)
      val failed = samples.count(!_.ok)
      val attempted = samples.size
      result match {
        case None =>
          System.err.println("pipebench: no successful warm job to report")
          1
        case Some(metrics) =>
          val errorRate = failed.toDouble / attempted
          say(f"error_rate ${errorRate}%.4f ($failed of $attempted jobs failed)")
          val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
          println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
            s""""metrics": {${body.mkString(", ")}}}""")
          0
      }
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def say(s: String): Unit = println(s"# $s")

  /** One job: the timed region is the pipeline calls plus the sink, then
    * (after the untimed check) the release of the job's checkpoints.
    */
  private def timedJob(spark: SparkSession, meter: StorageMeter, inputBytes: Long, w: Workload,
      t: Tracer): Sample = {
    val sc = spark.sparkContext
    org.apache.spark.PipebenchBus.drain(sc)
    meter.reset()
    val j0 = Clock.jitNs; val c0 = Clock.cpuNs; val t0 = System.nanoTime()
    try {
      val out = w.run(t)
      t.span(s"${w.layers.last}.exec")(out.write.format("noop").mode("overwrite").save())
      val c1 = Clock.cpuNs; val t1 = System.nanoTime(); val j1 = Clock.jitNs
      org.apache.spark.PipebenchBus.drain(sc)
      val peak = (inputBytes + meter.jobPeakBytes) / 1e6
      val (check, extra) = t match {
        case lt: LiveTracer => lt.outside((w.check(out), w.tracedCounts(out, lt)))
        case _ => (w.check(out), Map.empty[String, Double])
      }
      val j2 = Clock.jitNs; val c2 = Clock.cpuNs; val t2 = System.nanoTime()
      t.span("core.release")(SessionHygiene.releaseLeftovers(spark))
      val c3 = Clock.cpuNs; val t3 = System.nanoTime(); val j3 = Clock.jitNs
      val jitNs = (j1 - j0) + (j3 - j2)
      Sample(((t1 - t0) + (t3 - t2)) / 1e9, ((c1 - c0) + (c3 - c2) - jitNs) / 1e9, jitNs / 1e9,
        peak, check.copy(stats = check.stats ++ extra), None)
    } catch {
      case e: Exception =>
        SessionHygiene.releaseLeftovers(spark)
        Sample((System.nanoTime() - t0) / 1e9, 0.0, 0.0, 0.0, Check(ok = false, "-", "", Map.empty),
          Some(e.toString.take(300)))
    }
  }

  private type Metrics = Seq[(String, (Double, String))]

  private def warmUp(w: Workload, job: Tracer => Sample): Unit = {
    val start = System.nanoTime()
    do job(Tracer.off) while ((System.nanoTime() - start) / 1e9 < w.warmupSeconds)
  }

  private def untraced(w: Workload, o: Opts, setupS: Double, cold: Sample,
      job: Tracer => Sample): Option[Metrics] = {
    warmUp(w, job)
    val warm = collection.mutable.ArrayBuffer.empty[Sample]
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < o.seconds || warm.size < MinWarmJobs)
      warm += job(Tracer.off)
    val good = warm.filter(_.ok)
    if (good.isEmpty) return None
    val jobS = median(good.map(_.wallS).toSeq)
    val (tailS, tailDesc) = tail(good.map(_.wallS).toSeq)
    say(f"job_s median of n=${good.size}; job_s_tail is the $tailDesc")
    Some(Seq(
      "records_per_s" -> (w.records / jobS, "records/s"),
      "job_s" -> (jobS, "s"),
      "job_s_tail" -> (tailS, "s"),
      "cold_job_s" -> (cold.wallS, "s"),
      "cpu_s" -> (median(good.map(_.cpuS).toSeq), "s"),
      "storage_peak_mb" -> (good.map(_.storagePeakMb).max, "MB"),
      "setup_s" -> (setupS, "s")))
  }

  private def traced(spark: SparkSession, meter: StorageMeter, w: Workload, o: Opts,
      job: Tracer => Sample): Option[Metrics] = {
    warmUp(w, job)
    val refs = Seq(job(Tracer.off), job(Tracer.off)).filter(_.ok)
    val listener = new SpanListener
    val tracer = new LiveTracer(spark)
    spark.sparkContext.addSparkListener(listener)
    sys.props(PersonMatching.CountCandidatesProp) = "1"
    val s = try job(tracer) finally {
      sys.props.remove(PersonMatching.CountCandidatesProp)
      org.apache.spark.PipebenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val ownedRdds = tracer.owned.flatMap(o => SessionHygiene.checkpointRdds(o._2).map(_.id)).toSet
    val checkpoints = meter.storedSinceReset.filter { case (rdd, _) => !ownedRdds.contains(rdd) }
    val sizes = tracer.outside(tracer.outputSizes())
    tracer.release()
    if (!s.ok || refs.isEmpty) return None
    val side = w.sideCounts()

    val spans = tracer.spans.toSeq
    def spanS(n: String) = spans.filter(_.name == n).map(_.seconds).sum
    val values = collection.mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach { case (n, _) => values(n) = 0.0 }
    for (l <- Layers if spans.exists(_.name.startsWith(s"$l."))) {
      val mine = spans.filter(sp => sp.name == s"$l.call" || sp.name == s"$l.exec")
      val aggs = mine.flatMap(sp => listener.aggs.get(sp.name))
      values(s"$l.call_s") = spanS(s"$l.call")
      values(s"$l.exec_s") = spanS(s"$l.exec")
      values(s"$l.cpu_s") = mine.map(_.cpuNs).sum / 1e9
      values(s"$l.gc_s") = mine.map(_.gcMs).sum / 1e3
      values(s"$l.jobs") = aggs.map(_.jobs).sum.toDouble
      values(s"$l.tasks") = aggs.map(_.tasks).sum.toDouble
      values(s"$l.shuffle_write_mb") = aggs.map(_.shuffleWriteB).sum / 1e6
      values(s"$l.spill_mb") = aggs.map(_.spillB).sum / 1e6
      values(s"$l.rows_out") = sizes.collectFirst { case (`l`, rows, _) => rows.toDouble }
        .orElse(s.check.stats.get(s"$l.rows_out")).getOrElse(0.0)
    }
    sizes.foreach { case (l, _, c) => if (values.contains(s"$l.cols_out")) values(s"$l.cols_out") = c.toDouble }
    (s.check.stats ++ side).foreach { case (k, v) => if (values.contains(k)) values(k) = v }
    values("core.checkpoints") = checkpoints.size.toDouble
    values("core.checkpoint_mb") = checkpoints.values.sum / 1e6
    values("core.release_s") = spanS("core.release")
    values("core.jit_cpu_s") = s.jitS
    val refS = median(refs.map(_.wallS))
    val layerSum = spans.filter(sp => Layers.exists(l => sp.name.startsWith(s"$l.")) ||
      sp.name == "core.release").map(_.seconds).sum
    values("trace.job_s") = s.wallS
    values("trace.overhead_s") = s.wallS - refS
    values("trace.span_coverage") = layerSum / s.wallS

    // report
    say(f"traced job ${s.wallS}%.3f s vs untraced median ${refS}%.3f s: overhead ${s.wallS - refS}%+.3f s")
    val coverage = layerSum / s.wallS
    say(f"layer spans sum ${layerSum}%.3f s = ${100 * coverage}%.1f%% of the traced job: " +
      (if (math.abs(1 - coverage) <= ReconcileTolerance) "reconciles" else "does NOT reconcile") +
      f" (tolerance ${100 * ReconcileTolerance}%.0f%%)")
    say(f"${"span"}%-16s ${"wall_s"}%7s ${"cpu_s"}%7s ${"gc_s"}%6s ${"jobs"}%4s ${"tasks"}%5s " +
      f"${"task_run_s"}%10s ${"task_cpu_s"}%10s ${"shW_MB"}%7s ${"spill_MB"}%8s")
    spans.foreach { sp =>
      val a = listener.aggs.getOrElse(sp.name, new listener.Agg)
      say(f"${sp.name}%-16s ${sp.seconds}%7.3f ${sp.cpuNs / 1e9}%7.3f ${sp.gcMs / 1e3}%6.2f " +
        f"${a.jobs}%4d ${a.tasks}%5d ${a.runMs / 1e3}%10.3f ${a.cpuNs / 1e9}%10.3f " +
        f"${a.shuffleWriteB / 1e6}%7.2f ${a.spillB / 1e6}%8.2f")
    }
    listener.aggs.get(Tracer.BenchWork).foreach(a =>
      say(s"untimed checks and counts: ${a.jobs} jobs, ${a.tasks} tasks"))
    listener.aggs.get(Tracer.Untagged).foreach(a =>
      say(s"untagged: ${a.jobs} jobs, ${a.tasks} tasks (work outside every span)"))
    say("top stages by executor CPU:")
    listener.stages.toSeq.sortBy(-_._2.cpuNs).take(3).foreach { case (id, st) =>
      say(f"  stage $id%4d ${st.cpuNs / 1e9}%7.3f s cpu ${st.tasks}%5d tasks  [${st.span}] ${st.site}")
    }
    PerLayer.foreach { case (n, u) => say(f"$n%-28s ${values(n)}%14.4f $u") }
    val spansFile = new java.io.File(o.work, s"spans-${o.workload}-seed${o.seed}.jsonl")
    java.nio.file.Files.write(spansFile.toPath, (tracer.render + "\n").getBytes("UTF-8"))
    say(s"spans written to ${spansFile.getName}")
    Some(PerLayer.map { case (n, u) => n -> (values(n), u) })
  }
}
