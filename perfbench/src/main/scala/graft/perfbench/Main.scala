package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** The benchmark's JVM side. `perfbench/run.py` builds it and passes the
  * checkout-relative paths; see `perfbench/NOTES.md` for the workloads.
  *
  * A run: start one Spark session, set up three times and report the
  * median; check the outputs once, untimed, which also warms the JIT; run
  * one more untimed pass to warm up; then time passes over the workload's fixed work until `--seconds` have been
  * measured. With `--trace 1` the window is split: the first half
  * untraced, the second half traced, and the gap between their median
  * passes is the tracing overhead. The last stdout line is the result.
  */
object Main {

  case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  work: Path, spec: Path, corpus: Path, manifest: Path)

  val workloads = Seq("screen", "registry")

  /** Bulks in the screen workload: a run with its warm-up stays under a
    * minute on four cores.
    */
  val screenBulks = 100

  /** Set-up repetitions; `setup_s` is their median. */
  val setupReps = 3

  /** Untimed passes between the output check and the timed ones: the
    * check makes each call for the first time, and the next pass still
    * runs about a quarter slower than the ones after it.
    */
  val warmupPasses = 1

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", Paths.get(req("work")), Paths.get(req("spec")),
      Paths.get(req("corpus")), Paths.get(req("manifest")))
    require(workloads.contains(a.workload),
      s"unknown workload ${a.workload} (known: ${workloads.mkString(", ")})")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  def session(work: Path): SparkSession = {
    val s = Sessions.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(a: Args): Workload = a.workload match {
    case "screen" => new Screen(a.seed, screenBulks, a.work)
    case "registry" =>
      // SharedBase times each build, its jobs forced, only under this flag
      System.setProperty("graft.bench.timeBuilds", "1")
      new Registry(a.corpus, a.seed, a.work, Registry.readManifest(a.manifest))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    // exit explicitly: a failed run must not linger on Spark's threads
    try println(run(a))
    catch {
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }
    sys.exit(0)
  }

  /** Live heap as the last full collection left it. Spark's context cleaner
    * frees shuffle and broadcast state only once a collection has found it
    * unreachable, so collect, let it run, and collect again.
    */
  def heapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  def run(a: Args): String = {
    val spec = Json.read(a.spec)
    val w = workload(a)
    val spark = session(a.work)
    val setups = (1 to setupReps).map(rep => Workload.seconds(w.setup(spark, rep))._2)
    log(f"setup ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    val (checkFailures, checkSecs) = Workload.seconds {
      try w.check(spark) catch { case e: Exception => Seq(s"output check failed: $e") }
    }
    log(f"output check $checkSecs%.2f s, ${checkFailures.size} failed")
    val trace = new Trace(spark)
    val warmup = (1 to warmupPasses).map { i =>
      val p = w.pass(spark, trace, i)
      log(f"warm-up pass $i ${p.wall}%.2f s")
      p
    }

    // the fewest passes whose median one slow pass cannot set; one per
    // half when tracing splits the window
    val minPasses = if (a.trace) 1 else 3
    def timedPasses(budget: Double, first: Int): Seq[Pass] = {
      val out = Seq.newBuilder[Pass]
      var spent = 0.0
      var i = first
      while (spent < budget || i - first < minPasses) {
        val p = w.pass(spark, trace, i)
        log(f"pass $i ${p.wall}%.2f s")
        out += p; spent += p.wall; i += 1
      }
      out.result()
    }
    val untraced = timedPasses(if (a.trace) a.seconds / 2 else a.seconds, 1 + warmupPasses)
    val heap = heapMb()
    val (traced, counters) = if (!a.trace) (Nil, Map.empty[String, Double]) else {
      trace.start()
      trace.on = true
      val before = trace.snapshot()
      val ps = trace.span("run", a.workload)(timedPasses(a.seconds / 2, 1 + warmupPasses + untraced.size))
      val after = trace.snapshot()
      trace.on = false
      trace.stop()
      (ps, after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) / ps.size })
    }
    val failures = checkFailures ++ (warmup ++ untraced ++ traced).flatMap(_.failures)
    failures.foreach(f => log(s"FAILED $f"))
    val attempted = (warmup ++ untraced ++ traced).map(_.attempted).sum

    val values: Map[String, Double] = if (!a.trace) {
      Map(
        "setup_s" -> Stats.median(setups),
        "run_s" -> Stats.median(untraced.map(_.wall)),
        "heap_retained_mb" -> heap)
    } else {
      val runS = Stats.median(traced.map(_.wall))
      // per-layer metric <- listener counter, scaled to the metric's unit
      val fromCounters = Seq(
        "plans.analysis_s" -> ("analysis_ms", 1e-3), "plans.optimization_s" -> ("optimization_ms", 1e-3),
        "plans.planning_s" -> ("planning_ms", 1e-3), "plans.plan_nodes" -> ("plan_nodes", 1.0),
        "spark.jobs" -> ("jobs", 1.0), "spark.stages" -> ("stages", 1.0), "spark.tasks" -> ("tasks", 1.0),
        "spark.single_task_stages" -> ("single_task_stages", 1.0),
        "spark.failed_tasks" -> ("failed_tasks", 1.0), "spark.task_run_s" -> ("task_run_ms", 1e-3),
        "spark.task_cpu_s" -> ("task_cpu_ns", 1e-9), "spark.gc_s" -> ("gc_ms", 1e-3),
        "spark.shuffle_write_mb" -> ("shuffle_write_b", 1e-6),
        "spark.shuffle_read_mb" -> ("shuffle_read_b", 1e-6),
        "spark.spill_mb" -> ("spill_b", 1e-6), "spark.input_mb" -> ("input_b", 1e-6))
        .map { case (m, (k, scale)) => m -> counters.getOrElse(k, 0.0) * scale }
      Metrics.perLayer.map(_ -> 0.0).toMap ++
        w.layers(traced).filter(kv => Metrics.perLayer.contains(kv._1)) ++ fromCounters ++ Map(
        "spark.core_busy" -> counters.getOrElse("task_run_ms", 0.0) / 1e3 / (runS * cores),
        "spark.block_store_mb" ->
          spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6,
        "trace.overhead_s" -> (runS - Stats.median(untraced.map(_.wall))))
    }
    trace.write(a.work.resolve(s"trace-${a.workload}-${a.seed}.json"))
    spark.stop()

    val declared = Json.declaredMetrics(spec, a.trace)
    val names = Metrics.names(a.trace).toSet
    require(declared.map(_._1).toSet == names && values.keySet == names,
      s"metrics out of step with BENCHMARK.json: declared ${declared.map(_._1).mkString(",")}, " +
        s"measured ${values.keys.toSeq.sorted.mkString(",")}")
    val metrics = declared.map { case (n, unit) =>
      s""""$n": {"value": ${Json.num(values(n))}, "unit": "$unit"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, "metrics": $metrics}"""
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f $msg")
}
