package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM.
  *
  *   --workload NAME --seed N --seconds S --trace 0|1
  *   --work DIR        scratch directory for topics and Spark files
  *   --launch-ms MS    wall clock (epoch ms) when the launcher started the JVM
  *   --scale X         input-size multiplier (1.0 is the benchmark; the smoke run uses less)
  *   --trace-file F    where a traced run writes its spans and counters
  *
  * Prints one JSON line last: correct, attempted, failed, metrics (name to
  * value), plus the generator parameters. Exits 1 when an output check failed.
  */
object Main {
  val SetupReps = 3
  /** Length of the untimed warm-up run, as a share of the measured time. */
  val WarmUpShare = 0.75
  /** Spark cores: two leave the other cores of a small host to the JVM's
    * own threads and the open-loop generator, so a stalled core delays one
    * task, not every stage.
    */
  val MaxCores = 2

  /** (steal, total) jiffies of all CPUs, for the host-noise note. */
  def cpuTicks(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) return (0L, 0L)
    val src = scala.io.Source.fromFile(f)
    try {
      val xs = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    } finally src.close()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (f.exists()) {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } else {
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
  }

  /** Sum of the heap pools' peak usage: an upper bound of the peak live
    * heap, since the pools peak at different times.
    */
  def heapPeakUsedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val launchMs = opts.get("launch-ms").map(_.toDouble).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val scale = opts.getOrElse("scale", "1").toDouble
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.max(1, math.min(MaxCores, nproc))

    val ticks0 = cpuTicks()
    val spark = session(cores, work)
    val sessionReadyS = (System.currentTimeMillis() - launchMs) / 1000.0
    val ctx = new Ctx(spark, new Tracer(false, "setup"), s"$work/topics", seed, scale, cores)

    val prepS = mutable.ArrayBuffer.empty[Double]
    var st: wl.State = null.asInstanceOf[wl.State]
    (0 until SetupReps).foreach { i =>
      if (st != null) wl.release(ctx, st)
      val (s, t) = Workloads.timed(wl.prepare(ctx, i))
      st = s
      prepS += t
    }
    val setupS = sessionReadyS + Stats.median(prepS.toSeq)
    // The JIT keeps speeding the data path up for well over the set-up's
    // length, at a pace that depends on the host; an untimed run of the
    // workload first keeps that ramp out of the figures.
    wl.warmUp(ctx, st, seconds * WarmUpShare)
    // a traced run measures three times (untraced, traced, untraced), each
    // for half the time, so it ends within the same limit as an untraced one
    val measureS = if (trace) seconds / 2 else seconds
    val measured = wl.prepare(ctx, SetupReps)
    val phase = wl.measure(ctx, measured, measureS)
    wl.release(ctx, measured)

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    metrics("setup_s") = setupS
    metrics ++= phase.e2e
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "scale" -> scale,
      "cores" -> cores, "setup_session_s" -> sessionReadyS,
      "setup_prepare_s" -> prepS.toSeq, "generator" -> Gen.params, "phase" -> phase.info,
      "phase_layer" -> phase.layer)
    opts.get("trace-file").foreach(f => info("trace_file") = f)

    if (trace) {
      val layers = tracedRun(ctx, wl, measureS, work, phase, info)
      metrics ++= layers
    }
    metrics("peak_rss_mb") = peakRssMb()
    info("heap_peak_used_mb") = heapPeakUsedMb()
    val ticks1 = cpuTicks()
    info("host_steal_frac") = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    if (ctx.spark != null) ctx.spark.stop()

    val correct = ctx.failed == 0
    if (!correct) info("failures") = ctx.failures.take(20).toSeq
    println(Json(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> metrics, "info" -> info)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** The traced part: the same measurement with spans and engine counters
    * on, then once more untraced, then the layer probes at full and at
    * single-core parallelism. The tracing overhead compares the traced
    * measurement with the mean of the untraced ones on either side, so
    * warm-up and drift over the run cancel. Returns the per-layer metrics
    * and writes the span and counter file.
    */
  def tracedRun(ctx: Ctx, wl: Workload, seconds: Double,
      work: String, untraced: Phase, info: mutable.Map[String, Any]): Map[String, Double] = {
    val sc = ctx.spark.sparkContext
    val tracer = new Tracer(true, "trace")
    tracer.sc = sc
    ctx.tracer = tracer
    // everything the listener sees until the probes start is the workload's:
    // one more set-up and the traced measurement
    val listener = new EngineListener
    sc.addSparkListener(listener)
    ctx.spark.listenerManager.register(listener)
    val st = wl.prepare(ctx, SetupReps + 1)
    val (traced, wallS) = Workloads.timed(tracer.span("bench", wl.name)(wl.measure(ctx, st, seconds)))
    PerfbenchBus.drain(sc)
    val exchanges = listener.exchanges
    val plans = listener.plans
    val counters = listener.total(_ => true)
    val input = wl.probeInput(ctx, st)
    wl.release(ctx, st)

    // the untraced measurement after the traced one, with the listener off
    sc.removeSparkListener(listener)
    ctx.spark.listenerManager.unregister(listener)
    ctx.tracer = new Tracer(false, "untraced")
    val st2 = wl.prepare(ctx, SetupReps + 2)
    val after = wl.measure(ctx, st2, seconds)
    wl.release(ctx, st2)
    PerfbenchBus.drain(sc)
    sc.addSparkListener(listener)

    // layer probes, tagged apart so their jobs stay out of the workload's counters
    val probeTracer = new Tracer(true, "probe")
    probeTracer.sc = sc
    ctx.tracer = probeTracer
    val probes = mutable.LinkedHashMap.empty[String, Double]
    probes ++= Probes.dataPlane(ctx, input, s"n${ctx.cores}")
    probes ++= Probes.logCodec(ctx, input)
    probes ++= Probes.logMeta(ctx, input)
    if (!traced.layer.contains("stream.epoch_ms_p50")) probes ++= Probes.stream(ctx, input)
    probes ++= Probes.ops(ctx, input)
    // how fast the generator makes this workload's records, at n cores
    val genRate = input.rows / Workloads.timed(Workloads.drain(input.frame(ctx.spark)))._2

    // single-core baseline of the data-plane probes
    ctx.spark.stop()
    ctx.spark = session(1, work)
    probeTracer.sc = ctx.spark.sparkContext
    val single = Probes.dataPlane(ctx, input, "n1")
    val speedups = single.map { case (k, v) => k.stripSuffix(".rows_per_s") + ".speedup_vs_1core" -> probes(k) / v }

    val (head, higher) = wl.headline
    val overhead = {
      val (u, t) = ((untraced.e2e(head) + after.e2e(head)) / 2, traced.e2e(head))
      if (higher) u / t - 1 else t / u - 1
    }
    val spans = (tracer.spans.asScala ++ probeTracer.spans.asScala).toSeq
    val self = tracer.selfNs ++ probeTracer.selfNs
    val layerSelfS = tracer.spans.asScala.toSeq.groupBy(_.layer)
      .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }

    val out = mutable.LinkedHashMap.empty[String, Double]
    out ++= probes
    out ++= traced.layer // the workload's own figures win over a probe's
    out ++= speedups
    counters.toMap.foreach { case (k, v) => out(s"spark.$k") = v.toString.toDouble }
    out("spark.exchanges") = exchanges + out.remove("spark.stream_exchanges").getOrElse(0.0)
    out("spark.queries") = plans.toDouble
    out("trace.overhead_frac") = overhead
    out("trace.spans") = spans.size.toDouble
    out.getOrElseUpdate("gen.rows_per_s_achieved", genRate)

    val byGroup = listener.byGroupMaps.map { case (g, c) => Option(tracer.queryGroups.get(g)).getOrElse(g) -> c }
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val file = new java.io.File(info.getOrElse("trace_file", s"$work/trace-${wl.name}.json").toString)
    Option(file.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(file, "UTF-8")
    try w.println(Json(Map(
      "workload" -> wl.name, "info" -> info, "traced_wall_s" -> wallS,
      "untraced_e2e" -> untraced.e2e, "traced_e2e" -> traced.e2e, "untraced_after_e2e" -> after.e2e,
      "traced_phase" -> traced.info, "per_layer" -> out, "layer_self_s" -> layerSelfS,
      "spans" -> spans.sortBy(_.startNs).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6,
        "dur_ms" -> s.durNs / 1e6, "self_ms" -> self(s.id) / 1e6)),
      "counters_by_span" -> byGroup)))
    finally w.close()
    System.err.println(s"trace written to ${file.getPath}")
    out.toMap
  }
}
