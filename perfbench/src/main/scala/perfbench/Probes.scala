package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.functions.TextFunctions
import graft.sources.TxLog
import graft.streaming.TxLogChangeStream

/** Layer probes of the traced run, timed from outside through each
  * layer's public API, plus the per-layer numbers derived from the traced
  * window's counters. Every traced run reports the same metric names. */
object Probes {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Median of 3 timed noop runs of `df`, in ns per row of `rows`. */
  private def nsPerRow(df: DataFrame, rows: Long): Double =
    median((1 to 3).map(_ => Workload.timed(noop(df))._2)) * 1e9 / rows

  /** Count the batch files a pruned key lookup keeps against the live
    * set (inputs are part files; the log tracks their batch directories). */
  private def pruning(spark: SparkSession, dir: String, key: String): Unit = {
    val kept = TxLog.readPrunedByKey(spark, dir, "id", key)
      .map(_.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.toString)
        .distinct.length).getOrElse(0)
    Trace.add("sources.pruned_kept", kept)
    Trace.add("sources.pruned_live", TxLog.liveFiles(dir).size)
  }

  private def dirStats(dir: String): (Long, Long) = {
    val files = Option(new java.io.File(dir)).filter(_.exists).toSeq.flatMap { d =>
      java.nio.file.Files.walk(d.toPath).filter(java.nio.file.Files.isRegularFile(_))
        .toArray.toSeq.map(p => java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path]))
    }
    (files.size.toLong, files.sum)
  }

  /** A fixed TxLog maintenance sequence on a probe table, for workloads
    * whose own ops do not exercise every table verb. */
  private def txlogProbe(spark: SparkSession, dir: String): Unit = {
    TxLog.destroy(dir)
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).select(col("id"),
      concat(lit("g"), (col("id") % 16).cast("string")).as("grp"),
      ((col("id") * 37) % 1000).cast("double").as("val"))
    def timedVerb(name: String)(body: => Any): Unit = {
      val (_, s) = Workload.timed(body)
      Trace.add(s"sources.txlog_${name}_s", s)
      Trace.add(s"sources.txlog_${name}_n", 1)
    }
    val stream = new TxLogChangeStream(spark, dir, startAfter = 0)
    (0 until 3).foreach { b =>
      val df = rows(b * 5000L, 5000)
      timedVerb("append") {
        val p = TxLog.writeBatch(df, dir, s"a$b")
        TxLog.commitWithStats(dir,
          Seq((p, TxLog.statsWithBloom(df, Seq("id", "val"), "id"))))
      }
    }
    timedVerb("merge")(TxLog.merge(spark, dir, "m", rows(14000L, 2000), Seq("id")))
    timedVerb("delete_dv")(TxLog.deleteWhereDV(spark, dir, "d",
      col("id").isin((0L until 500L by 10L): _*)))
    timedVerb("update_dv")(TxLog.updateWhereDV(spark, dir, "u",
      col("id").isin((5001L until 5500L by 10L): _*), Seq("val" -> (col("val") + 1.0))))
    timedVerb("checkpoint")(TxLog.checkpoint(dir))
    (0 until 5).foreach(k => pruning(spark, dir, (k * 3001L).toString))
    val (_, snapS) = Workload.timed(TxLog.liveEntries(dir, TxLog.latestVersion(dir)))
    Trace.add("sources.txlog_snapshot_s", snapS)
    Trace.add("sources.txlog_snapshot_n", 1)
    Trace.add("streaming.lag_versions", TxLog.latestVersion(dir) - stream.position)
    Trace.add("streaming.drains", 1)
    stream.drain { (delta, _, _) =>
      val (_, s) = Workload.timed(
        noop(delta.groupBy("grp").agg(sum(col("val") * col("sign")))))
      Trace.add("streaming.window_s", s)
      Trace.add("streaming.windows", 1)
      Trace.add("streaming.rows", delta.count())
    }
    timedVerb("optimize")(TxLog.optimize(spark, dir, "o", targetFiles = 2))
    spark.range(1000).createOrReplaceTempView("bench_probe")
    val sqlS = (1 to 3).map(_ => Workload.timed(
      spark.sql("SELECT id % 7 AS k, count(*) AS n FROM bench_probe GROUP BY 1"))._2)
    Trace.add("plans.sql_call_s", median(sqlS))
    Trace.add("plans.sql_call_n", 1)
  }

  def run(spark: SparkSession, wl: Workload, data: String, work: String,
      cores: Int): Map[String, Double] = {
    val c = Trace.snapshotCounters()
    def cnt(k: String) = c.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    // table state first, before any probe writes
    val (filesWritten, bytesWritten) = dirStats(wl.tableDir)
    val (logFiles, logBytes) = dirStats(s"${wl.tableDir}/_txlog")
    val liveFiles = TxLog.liveFiles(wl.tableDir).size

    // probes run with tracing enabled only so their counters land
    Trace.enabled = true
    wl match {
      case t: TxlogWorkload =>
        // on the table as the window left it
        t.tracedLookups.foreach(k => pruning(spark, t.tableDir, k.toString))
        t.tracedDeltas.foreach(d => Trace.add("streaming.rows", d.count()))
      case _ => txlogProbe(spark, s"$work/probe_table")
    }

    val inputs = new java.io.File(data).listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      .sorted
    val scanS = inputs.map(t => Workload.timed(noop(Graft.table(spark, data, t)))._2).sum

    val docs0 = spark.read.parquet(s"$data/probe/documents.parquet")
    val docs = docs0.crossJoin(spark.range(20).select(col("id").as("rep")))
      .select("doc_id", "text").repartition(cores).cache()
    val nDocs = docs.count()
    val emb = spark.read.parquet(s"$data/probe/embeddings.parquet")
    val pairs = emb.filter(col("vec_id") < 100).select(col("embedding").as("a"))
      .crossJoin(emb.select(col("embedding").as("b")))
      .repartition(cores).cache()
    val nPairs = pairs.count()
    val probes = Map(
      "functions.tokens_ns_per_row" ->
        nsPerRow(docs.select(TextFunctions.tokenCount(col("text"))), nDocs),
      "functions.quality_ns_per_row" ->
        nsPerRow(docs.select(TextFunctions.qualityScore(col("text"))), nDocs),
      "functions.portable_hash_ns_per_row" ->
        nsPerRow(docs.select(TextFunctions.portableHash(col("text"), 7)), nDocs),
      "plans.normalize_text_ns_per_row" ->
        nsPerRow(docs.select(expr("graft_normalize(text)")), nDocs),
      "plans.cosine_ns_per_pair" ->
        nsPerRow(pairs.select(expr("graft_cosine(a, b)")), nPairs))
    docs.unpersist(true); pairs.unpersist(true)
    Trace.enabled = false

    val pc = Trace.snapshotCounters()
    def pcnt(k: String) = pc.getOrElse(k, 0.0)
    def mean(k: String) = ratio(pcnt(s"${k}_s"), pcnt(s"${k}_n"))
    val box = boxHealth(spark, cores)
    val ops = math.max(1.0, cnt("bench.ops"))
    Map(
      "core.pinned_mb_max" -> cnt("core.pinned_mb_max"),
      "sources.scan_s" -> scanS,
      "sources.input_mb" -> cnt("sources.input_mb") / ops,
      "sources.input_rows" -> cnt("sources.input_rows") / ops,
      "sources.txlog_append_s" -> mean("sources.txlog_append"),
      "sources.txlog_merge_s" -> mean("sources.txlog_merge"),
      "sources.txlog_delete_dv_s" -> mean("sources.txlog_delete_dv"),
      "sources.txlog_update_dv_s" -> mean("sources.txlog_update_dv"),
      "sources.txlog_optimize_s" -> mean("sources.txlog_optimize"),
      "sources.txlog_checkpoint_s" -> mean("sources.txlog_checkpoint"),
      "sources.txlog_snapshot_s" -> mean("sources.txlog_snapshot"),
      "sources.txlog_live_files" -> liveFiles.toDouble,
      "sources.txlog_log_files" -> logFiles.toDouble,
      "sources.txlog_log_kb" -> logBytes / 1024.0,
      "sources.pruned_file_ratio" ->
        ratio(pcnt("sources.pruned_kept"), pcnt("sources.pruned_live")),
      "sources.bytes_written_mb" -> bytesWritten / 1048576.0,
      "sources.files_written" -> filesWritten.toDouble,
      "plans.analysis_ms" -> ratio(cnt("plans.analysis_ms"), cnt("plans.queries")),
      "plans.optimizer_ms" -> ratio(cnt("plans.optimizer_ms"), cnt("plans.queries")),
      "plans.planning_ms" -> ratio(cnt("plans.planning_ms"), cnt("plans.queries")),
      "plans.graft_rule_ms" -> ratio(cnt("plans.graft_rule_ns") / 1e6, cnt("plans.queries")),
      "plans.graft_rule_effective_ratio" ->
        ratio(cnt("plans.graft_rule_effective"), cnt("plans.graft_rule_calls")),
      "plans.sql_call_ms" -> 1000 * mean("plans.sql_call"),
      "operators.task_cpu_s" -> cnt("operators.task_cpu_s") / ops,
      "operators.task_run_s" -> cnt("operators.task_run_s") / ops,
      "operators.gc_s" -> cnt("operators.gc_s") / ops,
      "operators.core_util" ->
        ratio(cnt("operators.task_run_s"), cnt("bench.window_s") * cores),
      "operators.shuffle_write_mb" -> cnt("operators.shuffle_write_mb") / ops,
      "operators.shuffle_read_mb" -> cnt("operators.shuffle_read_mb") / ops,
      "operators.shuffle_records" -> cnt("operators.shuffle_records") / ops,
      "operators.fetch_wait_s" -> cnt("operators.fetch_wait_s") / ops,
      "operators.spill_mb" -> cnt("operators.spill_mb") / ops,
      "operators.task_skew" ->
        ratio(cnt("operators.task_skew_sum"), cnt("operators.task_skew_n")),
      "operators.stages_per_job" -> ratio(cnt("operators.stages"), cnt("operators.jobs")),
      "operators.tasks_per_job" -> ratio(cnt("operators.tasks"), cnt("operators.jobs")),
      "streaming.window_s" -> ratio(pcnt("streaming.window_s"), pcnt("streaming.windows")),
      "streaming.lag_versions" ->
        ratio(pcnt("streaming.lag_versions"), pcnt("streaming.drains")),
      "streaming.rows_per_window" ->
        ratio(pcnt("streaming.rows"), pcnt("streaming.windows"))
    ) ++ probes ++ box
  }

  /** BoxHealth's fixed-work machine probe, parsed into box.* metrics. */
  private def boxHealth(spark: SparkSession, cores: Int): Map[String, Double] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(graft.BoxHealth.probe(spark, cores))
    import scala.jdk.CollectionConverters._
    node.fieldNames().asScala.map(k => s"box.$k" -> node.get(k).asDouble).toMap
  }
}
