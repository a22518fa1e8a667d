package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Graft

/** The benchmark's JVM side. Runs one workload in this process:
  *
  *   set-up (Graft.session, fixture staging, warm-up = the workload's
  *   first whole op cycles holding [[WarmOps]] ops)
  *   -> timed window (closed loop, whole cycles, at least `--seconds` and
  *      [[WindowOps]] ops)
  *      or, with `--trace 1`, three passes over the same ops from op 0,
  *      each from fresh state: untraced, traced, untraced
  *   -> post-window state for the correctness check
  *   -> with `--trace 1`: layer probes
  *
  * and writes everything measured as one JSON object to `--out`; the
  * Python side (run.py) checks outputs and derives the metrics.
  *
  * Args: --workload etl_bulk|txlog_mixed --data DIR --work DIR
  * --seconds S --trace 0|1 --seed N --out FILE */
object Main {

  /** The registry jobs of etl_bulk, one cycle. */
  val EtlJobs: Seq[String] = Seq("q_tpch_q1", "q_tpch_q5", "q_tpch_q18",
    "q_sort_total", "q_salted_join")

  /** Warm-up rule, the same for every workload: the first whole op cycles
    * that hold at least this many ops. */
  val WarmOps = 10

  /** The window holds whole cycles, at least `--seconds` and at least this
    * many ops, so every percentile rests on a few samples of each op kind. */
  val WindowOps = 15

  private def oldGenLiveMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
      .flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed / 1048576.0).maxOption.getOrElse(0.0)

  /** Collect, give the context cleaner a moment to drop the blocks of
    * objects that collection freed (broadcasts, shuffles), collect again. */
  private def fullGc(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
  }

  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  private def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val (data, work) = (args("data"), args("work"))
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val seed = args("seed").toLong
    // task slots: half the cores the JVM sees. On a small shared machine
    // four busy threads run at about half speed each and straggle, and a
    // stage waits for its slowest task; the other half is left to the client
    // thread, the JIT and the collector
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val wl: Workload = workload match {
      case "etl_bulk" => new RegistryWorkload(EtlJobs, data, work, seed)
      case "txlog_mixed" => new TxlogWorkload(data, work)
      case w => sys.error(s"unknown workload $w")
    }

    var nextOp = 0
    var attempted = 0
    var pass = 0
    val failures = mutable.ArrayBuffer.empty[String]
    // records of the warm-up and of the window, with the phase each ran
    // in ("warm", "untraced" or "traced") and its pass (each from fresh state)
    val recs = mutable.ArrayBuffer.empty[(OpRecord, String, Int)]
    val (spark, sessionS) = Workload.timed(
      Graft.session(appName = "perfbench", master = s"local[$cores]"))
    def runOp(i: Int): Option[OpRecord] =
      try { attempted += 1; Some(wl.runOp(spark, i)) }
      catch {
        case e: Throwable =>
          failures += s"op $i: ${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(300)}"
          None
      } finally {
        // what the op left pinned, read before it is released
        if (Trace.enabled) Trace.max("core.pinned_mb_max", pinnedMb(spark))
        unpersistAll(spark)
      }
    /** Fresh state: a new table, nothing pinned, back at op 0. */
    def fresh(): Unit = {
      wl.stage(spark)
      unpersistAll(spark)
      nextOp = 0
    }

    // ---- set-up: JVM start -> Graft.session -> fixtures -> warm-up (the
    // workload's first whole op cycles); ends where the first timed op starts
    if (trace) Trace.install(spark)
    fresh()
    val warmCycles = (WarmOps + wl.cycle - 1) / wl.cycle
    while (nextOp < warmCycles * wl.cycle) {
      runOp(nextOp).foreach(r => recs += ((r, "warm", pass)))
      nextOp += 1
      if (nextOp % wl.cycle == 0) fullGc()
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // ---- timed window: whole cycles, until `more(seconds, ops)` is false
    var peakHeap = 0.0
    var windowCpuS = 0.0
    // wall seconds of each untraced window cycle, up to its last op's end
    // (the harness's collection at the boundary is not in it)
    val cycleS = mutable.ArrayBuffer.empty[Double]
    def window(traced: Boolean)(more: (Double, Int) => Boolean): Double = {
      Trace.enabled = traced
      Trace.spans = traced
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      val op0 = nextOp
      def elapsed = (System.nanoTime() - t0) / 1e9
      var c0 = System.nanoTime()
      while (more(elapsed, nextOp - op0) || nextOp % wl.cycle != 0) {
        Trace.add("bench.ops", 1)
        runOp(nextOp).foreach(r =>
          recs += ((r, if (traced) "traced" else "untraced", pass)))
        nextOp += 1
        // a full collection at each cycle boundary: the live heap is read
        // there, and no collection debt carries into the next cycle
        if (nextOp % wl.cycle == 0) {
          if (!traced) cycleS += (System.nanoTime() - c0) / 1e9
          fullGc()
          peakHeap = math.max(peakHeap, oldGenLiveMb())
          c0 = System.nanoTime()
        }
      }
      val secs = elapsed
      windowCpuS += processCpuS() - cpu0
      Trace.add("bench.window_s", secs)
      Trace.flush(spark) // the window's last listener events land in it
      Trace.enabled = false
      Trace.spans = false
      secs
    }
    val windows =
      if (!trace) Seq(window(traced = false)((s, n) => s < seconds || n < WindowOps))
      else {
        // the tracing overhead compares like with like: after the set-up,
        // three passes over the same ops, each from fresh state, untraced,
        // traced, untraced; the traced one is compared with the mean of
        // its neighbours, so a JVM that still speeds up biases it less
        var end = -1
        Seq(false, true, false).map { traced =>
          pass += 1
          fresh()
          val secs = window(traced)((s, n) =>
            if (end < 0) s < seconds / 3 || n < WindowOps / 3 else nextOp < end)
          end = nextOp
          secs
        }
      }
    val finish = wl.finish(spark)
    val layer = if (trace) Probes.run(spark, wl, data, work, cores) else Map.empty
    if (trace) Trace.write(s"$work/spans.jsonl")

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores,
      "setup_s" -> setupS, "session_s" -> sessionS,
      "windows_s" -> windows, "cycle" -> wl.cycle, "cycles_s" -> cycleS,
      "window_cpu_s" -> windowCpuS,
      "attempted" -> attempted,
      "failures" -> failures,
      "peak_live_heap_mb" -> peakHeap, "table_dir" -> wl.tableDir,
      "ops" -> recs.map { case (r, phase, p) => mutable.LinkedHashMap[String, Any](
        "i" -> r.i, "name" -> r.name, "kind" -> r.kind, "lat_s" -> r.latS,
        "commit_s" -> (if (r.commitS.isNaN) None else Some(r.commitS)),
        "phase" -> phase, "pass" -> p) ++ r.result },
      "finish" -> finish, "layer" -> layer)
    wl match {
      case r: RegistryWorkload => out("oracles") = r.oracles
      case _ =>
    }
    val w = new java.io.PrintWriter(args("out"), "UTF-8")
    try w.print(Json.value(out)) finally w.close()
    spark.stop()
  }
}
