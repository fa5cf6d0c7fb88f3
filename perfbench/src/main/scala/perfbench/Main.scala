package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Host and process readings, all from /proc (zeros where absent). */
object Perf {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Exception => "" }

  def peakRssMb: Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
    .getOrElse(0.0)

  def loadavg1: Double =
    read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)

  /** (busy+idle jiffies, steal jiffies) over all CPUs. */
  def cpuJiffies: (Long, Long) = read("/proc/stat").linesIterator
    .find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    }.getOrElse((0L, 0L))

  /** This process's user+system CPU seconds. */
  def processCpuS: Double = {
    val f = read("/proc/self/stat").split("\\) ").lastOption
      .map(_.split(" ")).getOrElse(Array.empty)
    if (f.length > 12) (f(11).toLong + f(12).toLong) / 100.0 else 0.0
  }

  def fsType(p: Path): String = {
    val abs = p.toAbsolutePath.normalize.toString
    read("/proc/mounts").linesIterator.map(_.split(" "))
      .filter(f => f.length > 2 && (abs == f(1) || abs.startsWith(f(1).stripSuffix("/") + "/")))
      .toSeq.sortBy(-_(1).length).headOption.map(_(2)).getOrElse("unknown")
  }
}

/** The benchmark's JVM side: set-up (repeated), the timed closed loop,
  * the output checks, and one JSON record with every op and span.
  *
  *   perfbench.Main workload=<name> seed=<n> seconds=<s> trace=<0|1>
  *     data=<dir> work=<dir> out=<file> cores=<n> [certify=1]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val ctx = Ctx(a("data"), a("work"), a("seed").toLong)
    val wl: Workload = a("workload") match {
      case "registry" => new QueryWorkload(ctx)
      case "etl_release" => new EtlWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val jvmBoot = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // Set-up, repeated: session start, input preparation, a first job.
    var spark: SparkSession = null
    val setups = (0 until 3).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = graft.Sessions.localBuilder(cores.toString)
        .config("spark.local.dir", s"${ctx.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      wl.prepare(spark)
      val t2 = System.nanoTime()
      spark.range(1000).selectExpr("sum(id)").collect()
      val t3 = System.nanoTime()
      Map("session_start_s" -> (t1 - t0) / 1e9, "prepare_s" -> (t2 - t1) / 1e9,
        "first_job_s" -> (t3 - t2) / 1e9, "total_s" -> (t3 - t0) / 1e9)
    }
    val w0 = System.nanoTime()
    wl.warmup(spark)
    val warmup = (System.nanoTime() - w0) / 1e9

    val tracer = if (trace) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val rec = new Recorder(spark, tracer)

    // The closed loop: whole passes, each a fixed set of ops, while the
    // next pass still fits in the time (so a run is one pass unless the
    // pass takes under half the time).
    val (jif0, steal0) = Perf.cpuJiffies
    val cpu0 = Perf.processCpuS
    val load0 = Perf.loadavg1
    val m0 = System.nanoTime()
    var passes = 0
    var last = 0.0
    while (passes == 0 || (System.nanoTime() - m0) / 1e9 + last <= seconds) {
      val p0 = System.nanoTime()
      wl.pass(spark, rec, passes, trace)
      last = (System.nanoTime() - p0) / 1e9
      passes += 1
    }
    val wall = (System.nanoTime() - m0) / 1e9
    System.gc()
    val heapLive = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024)
    val (jif1, steal1) = Perf.cpuJiffies
    val ownCores = (Perf.processCpuS - cpu0) / wall
    val load1 = Perf.loadavg1

    wl.record(spark, rec.ops.toSeq)

    val record = Map(
      "workload" -> a("workload"),
      "env" -> Map(
        "cores" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "seed" -> ctx.seed,
        "work_fs" -> Perf.fsType(Paths.get(ctx.work)),
        "loadavg1" -> Seq(load0, load1)),
      "jvm_boot_s" -> jvmBoot,
      "setups" -> setups,
      "warmup_s" -> warmup,
      "passes" -> passes,
      "measure_wall_s" -> wall,
      "host" -> Map(
        "load_other" -> math.max(0.0, load1 - ownCores),
        "steal_frac" -> (if (jif1 > jif0) (steal1 - steal0).toDouble / (jif1 - jif0) else 0.0)),
      "peak_rss_mb" -> Perf.peakRssMb,
      "heap_live_mb" -> heapLive,
      "info" -> wl.info,
      // oracle SQL may name side outputs of this JVM's own ops
      "oracle_sql" -> (if (a.get("certify").contains("1")) graft.SparkEntry.oracleSql
                       else Map.empty),
      "ops" -> rec.ops.map(opRecord))
    Files.writeString(Paths.get(a("out")), Json(record))
    spark.stop()
  }

  private def opRecord(o: Op): Map[String, Any] = Map(
    "id" -> o.id, "name" -> o.name, "pass" -> o.pass, "traced" -> o.traced,
    "spans" -> o.spans.map { case (n, s) => Seq(n, s) },
    "rows" -> o.rows, "error" -> o.error,
    "compiles" -> o.compiles, "compile_s" -> o.compileNs / 1e9,
    "drain_s" -> o.drainNs / 1e9,
    "attrs" -> o.attrs) ++
    (if (o.traced) Map("layers" -> layers(o)) else Map.empty)

  /** Per-op layer decomposition from the op's span epochs. Per span:
    * Catalyst phases and job intervals are clipped to the span; the
    * driver gap is the span time covered by neither. `closure` is
    * (Catalyst sum + job union + gap) ÷ span time summed over the op: it
    * exceeds 1 exactly when phases overlap each other or the jobs, so
    * it checks that the layers do not double-count.
    */
  private def layers(o: Op): Map[String, Any] = {
    var wall, catalyst, jobsUnion, gap = 0L
    val phase = scala.collection.mutable.Map("analysis" -> 0L,
      "optimization" -> 0L, "planning" -> 0L)
    var openJobs = 0
    var foreign = 0
    o.epochs.foreach { case (span, iv, e) =>
      val phases = e.phases.map { case (n, p) => n -> p.clip(iv.start, iv.end) }
      val jobs = e.jobIvs.map(_.clip(iv.start, iv.end))
      wall += iv.len
      catalyst += phases.map(_._2.len).sum
      phases.foreach { case (n, p) => phase(n) = phase.getOrElse(n, 0L) + p.len }
      jobsUnion += Iv.covered(jobs)
      gap += iv.len - Iv.covered(jobs ++ phases.map(_._2))
      openJobs += e.jobStart.keySet.diff(e.jobEnd.keySet).size
      foreign += e.jobGroups.values.count(_ != s"op${o.id}.$span")
    }
    val es = o.epochs.map(_._3)
    def sum(f: Epoch => Long) = es.map(f).sum
    Map(
      "wall_s" -> wall / 1e3,
      "analysis_s" -> phase("analysis") / 1e3,
      "optimization_s" -> phase("optimization") / 1e3,
      "planning_s" -> phase("planning") / 1e3,
      "catalyst_s" -> catalyst / 1e3,
      "jobs_union_s" -> jobsUnion / 1e3,
      "gap_s" -> gap / 1e3,
      "closure" -> (if (wall > 0) (catalyst + jobsUnion + gap).toDouble / wall else 1.0),
      "open_jobs" -> openJobs,
      "foreign_jobs" -> foreign,
      "jobs" -> sum(_.jobStart.size.toLong),
      "span_jobs" -> o.epochs.map { case (n, _, e) => n -> e.jobStart.size }.toMap,
      "span_s" -> o.epochs.map { case (n, iv, _) => n -> iv.len / 1e3 }.toMap,
      "stages" -> sum(_.stages),
      "tasks" -> sum(_.tasks),
      "scheduler_delay_s" -> sum(_.delayMs) / 1e3,
      "run_s" -> sum(_.runMs) / 1e3,
      "cpu_s" -> sum(_.cpuNs) / 1e9,
      "gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "shuffle_read_bytes" -> sum(_.shuffleRead),
      "spill_bytes" -> sum(_.spill),
      "scan_bytes" -> sum(_.scanBytes),
      "scan_rows" -> sum(_.scanRows),
      "output_bytes" -> sum(_.outBytes),
      "output_rows" -> sum(_.outRows),
      "skew" -> es.map(_.skew).foldLeft(1.0)(math.max))
  }
}
