package graft

import org.apache.spark.sql.SparkSession

/** Fixed-work machine-state probe; perfbench stamps it into every
  * traced run as the `box.*` per-layer metrics. The workloads are
  * CONSTANTS — never scaled by core count or env — so the fields of any
  * two runs compare directly; `cpu_mt_s` runs the same fixed work per
  * thread on all requested threads, so its EXCESS over `cpu_st_s`
  * isolates external contention (involuntary descheduling) from
  * single-core speed. */
object BoxHealth {

  // deterministic ALU spin; the xorshift state defeats dead-code
  // elimination (result folded into the returned blackhole)
  private def spin(steps: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  @volatile private var blackhole: Long = 0L

  /** Run the probe (~8 s on a healthy box) and return it as a JSON
    * object string: {"cpu_st_s":…,"cpu_mt_s":…,"io_w_mbps":…,
    * "io_r_mbps":…,"gc_probe_ms":…,"shuffle_s":…}. */
  def probe(spark: SparkSession, threads: Int): String = {
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val steps = 1500000000L // ~1 s/thread healthy

    // 1. single-thread CPU
    val st0 = System.nanoTime()
    blackhole ^= spin(steps)
    val cpuSt = (System.nanoTime() - st0) / 1e9

    // 2. same work per thread, all threads at once: wall time ≈ cpu_st_s
    // when cores are free; excess = the box is running something else
    val acc = new java.util.concurrent.atomic.AtomicLong
    val pool = (1 to math.max(1, threads)).map { _ =>
      new Thread(() => { acc.addAndGet(spin(steps)); () })
    }
    val mt0 = System.nanoTime()
    pool.foreach(_.start()); pool.foreach(_.join())
    blackhole ^= acc.get
    val cpuMt = (System.nanoTime() - mt0) / 1e9

    // 3. I/O: 256 MiB write+fsync then read, in 8 MiB blocks, to tmp
    val buf = new Array[Byte](8 * 1024 * 1024)
    java.util.Arrays.fill(buf, 0x5A.toByte)
    val f = java.io.File.createTempFile("boxhealth", ".bin")
    val (ioW, ioR) =
      try {
        val w0 = System.nanoTime()
        val out = new java.io.FileOutputStream(f)
        try {
          (1 to 32).foreach(_ => out.write(buf))
          out.getFD.sync()
        } finally out.close()
        val wS = (System.nanoTime() - w0) / 1e9
        val r0 = System.nanoTime()
        val in = new java.io.FileInputStream(f)
        try {
          var n = 0
          while (n >= 0) { n = in.read(buf); if (n > 0) blackhole ^= buf(0) }
        } finally in.close()
        val rS = (System.nanoTime() - r0) / 1e9
        (256.0 / wS, 256.0 / rS)
      } finally { f.delete(); () }

    // 4. GC: churn 2 GiB of short-lived 8 KiB arrays behind a 64 MiB
    // rolling window; report the collector-time delta
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val gc0 = gcMs()
    val window = new Array[Array[Byte]](8192)
    var i = 0
    while (i < 262144) { // 262144 * 8 KiB = 2 GiB
      window(i % window.length) = new Array[Byte](8192)
      i += 1
    }
    blackhole ^= window(0).length
    val gcProbe = gcMs() - gc0

    // 5. one fixed Spark shuffle: schedulers + exchange + agg under the
    // session's real config (partitions, codegen) — the end-to-end lane
    val sh0 = System.nanoTime()
    spark.range(20000000L).selectExpr("id % 1000 AS k", "id AS v")
      .repartition(org.apache.spark.sql.functions.col("k"))
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
      .write.mode("overwrite").format("noop").save()
    val shuffleS = (System.nanoTime() - sh0) / 1e9

    s"""{"cpu_st_s":${num(cpuSt)},"cpu_mt_s":${num(cpuMt)},""" +
      s""""io_w_mbps":${num(ioW)},"io_r_mbps":${num(ioR)},""" +
      s""""gc_probe_ms":$gcProbe,"shuffle_s":${num(shuffleS)}}"""
  }
}
