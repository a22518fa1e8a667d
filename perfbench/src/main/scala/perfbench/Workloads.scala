package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AggOps
import graft.sources.TxLog
import graft.streaming.TxLogChangeStream

/** One finished benchmark op. `kind` is "read" (an analytic or read job)
  * or "write" (a table mutation); `commitS` is the commit share of the op
  * when it has one. `result` carries what the correctness check needs. */
final case class OpRecord(i: Int, name: String, kind: String, latS: Double,
    commitS: Double, result: Map[String, Any] = Map.empty)

/** A closed-loop workload: op `i` runs only after op `i-1` returned. */
trait Workload {
  /** Ops per cycle; warm-up runs the first cycles, the timed window stops
    * at a cycle boundary so every window holds whole cycles. */
  def cycle: Int
  /** The table the workload writes (write amplification is measured on
    * it); a new directory at every set-up. */
  def tableDir: String
  /** Bring the workload to its initial state: a fresh table, nothing
    * pinned. Runs in every set-up. */
  def stage(spark: SparkSession): Unit
  def runOp(spark: SparkSession, i: Int): OpRecord
  /** After the window: state the correctness check needs. */
  def finish(spark: SparkSession): Map[String, Any] = Map.empty
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rows(rs: Array[Row]): Seq[Seq[Any]] =
    rs.toSeq.map(_.toSeq.map {
      case d: java.math.BigDecimal => d.toPlainString
      case x => x
    })
}

/** Registry jobs (graft.Queries) run round-robin, in a seeded order per
  * round. Each op runs the job, materializing its result in memory, then
  * loads the result into a results table as one batch: write, commit. */
final class RegistryWorkload(jobs: Seq[String], data: String, work: String,
    seed: Long) extends Workload {
  private val specs = jobs.map(j => graft.Queries.all.find(_.name == j)
    .getOrElse(sys.error(s"no registry job named $j")))
  val cycle: Int = specs.size
  private var staged = 0
  def tableDir: String = s"$work/results-$staged"

  def oracles: Map[String, String] =
    specs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  private def order(round: Int): IndexedSeq[Int] =
    if (round == 0) specs.indices
    else new scala.util.Random(seed * 1000003L + round).shuffle(specs.indices.toVector)

  def stage(spark: SparkSession): Unit = {
    staged += 1
    TxLog.destroy(tableDir)
    specs.foreach(q => q.stage.foreach(_(spark, data)))
  }

  def runOp(spark: SparkSession, i: Int): OpRecord = {
    val q = specs(order(i / cycle)(i % cycle))
    val name = f"b$i%06d"
    Trace.span("bench", q.name, newOp = true) {
      // the job: build the plan and materialize its result in memory
      val (result, jobS) = Workload.timed(Trace.span("operators",
        "QuerySpec.run")(q.run(spark, data).localCheckpoint()))
      // the load: write the result as a batch and commit it
      val (_, loadS) = Workload.timed {
        val path = Trace.span("sources", "TxLog.writeBatch")(
          TxLog.writeBatch(result, tableDir, name))
        Trace.span("sources", "TxLog.commitWithStats")(
          TxLog.commitWithStats(tableDir, Seq((path, None))))
      }
      Trace.add("sources.txlog_append_s", loadS)
      Trace.add("sources.txlog_append_n", 1)
      OpRecord(i, q.name, "read", jobS, loadS,
        Map("batch" -> s"$tableDir/data/$name"))
    }
  }
}

/** Writes beside reads on one long-lived TxLog table, following the
  * generated op list (ops.json): appends, SQL MERGE INTO (resolved to
  * TxLog.merge), deletion-vector deletes and updates, checkpoint and optimize;
  * pruned key lookups, snapshot aggregates, time travel, and a change-feed
  * catch-up folded into a signed aggregate. */
final class TxlogWorkload(data: String, work: String) extends Workload {
  private val plan = new com.fasterxml.jackson.databind.ObjectMapper()
    .readValue(new java.io.File(s"$data/ops.json"), classOf[java.util.Map[String, Any]])
  private val ops: IndexedSeq[java.util.Map[String, Any]] =
    plan.get("ops").asInstanceOf[java.util.List[java.util.Map[String, Any]]]
      .asScala.toIndexedSeq
  val cycle: Int = plan.get("cycle").asInstanceOf[Number].intValue
  private var staged = 0
  def tableDir: String = s"$work/table-$staged"
  private val sqlTable = "graft.sql.bench_txlog"

  // (op index, version after it) of every write; -1 = the base batch
  private val versions = mutable.ArrayBuffer.empty[(Int, Int)]
  private var stream: TxLogChangeStream = _
  private var state: DataFrame = _
  /** Keys looked up and change-feed windows delivered while tracing: the
    * layer probes measure pruning and window sizes on them after the
    * window, so the traced ops do no extra work. */
  val tracedLookups = mutable.ArrayBuffer.empty[Long]
  val tracedDeltas = mutable.ArrayBuffer.empty[DataFrame]

  private def keyList(op: java.util.Map[String, Any]): Seq[Long] =
    op.get("keys").asInstanceOf[java.util.List[Number]].asScala.map(_.longValue).toSeq

  private def aggRows(df: DataFrame): Seq[Seq[Any]] =
    Workload.rows(df.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("val").cast("decimal(18,2)")).as("s"))
      .orderBy("grp").collect())

  private def stateRows(spark: SparkSession, rows: Seq[Seq[Any]]): DataFrame = {
    import spark.implicits._
    rows.map(r => (r(0).toString, r(1).asInstanceOf[Long],
      new java.math.BigDecimal(r(2).toString))).toDF("grp", "cnt", "sum_dec")
      .select(col("grp"), col("cnt"), col("sum_dec").cast("decimal(38,6)"))
  }

  def stage(spark: SparkSession): Unit = {
    staged += 1
    TxLog.destroy(tableDir)
    versions.clear()
    val base = spark.read.parquet(s"$data/base.parquet")
    val p = TxLog.writeBatch(base, tableDir, "base")
    val v = TxLog.commitWithStats(tableDir,
      Seq((p, TxLog.statsWithBloom(base, Seq("id", "val"), "id"))))
    versions += ((-1, v))
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", s"$work/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.sql")
    spark.sql(s"DROP TABLE IF EXISTS $sqlTable")
    spark.sql(s"CREATE TABLE $sqlTable USING graft LOCATION '$tableDir'")
    stream = new TxLogChangeStream(spark, tableDir, startAfter = v)
    state = stateRows(spark, Workload.rows(AggOps.partialStats(base,
      Seq(col("grp")), col("val")).select("grp", "cnt", "sum_dec").collect()))
  }

  /** A table mutation; its latency also counts toward the TxLog `verb`
    * it runs (SQL MERGE INTO resolves to TxLog.merge). */
  private def writeOp(i: Int, name: String, verb: String)(body: => Int): OpRecord = {
    val (_, s) = Workload.timed(Trace.span("sources", s"TxLog.$verb")(body))
    Trace.add(s"sources.txlog_${verb}_s", s)
    Trace.add(s"sources.txlog_${verb}_n", 1)
    val v = TxLog.latestVersion(tableDir)
    versions += ((i, v))
    OpRecord(i, name, "write", s, s, Map("version" -> v))
  }

  private def readOp(i: Int, name: String, layer: String)(
      body: => Map[String, Any]): OpRecord = {
    val (r, s) = Workload.timed(Trace.span(layer, name)(body))
    OpRecord(i, name, "read", s, Double.NaN, r)
  }

  private def batch(spark: SparkSession, op: java.util.Map[String, Any]) =
    spark.read.parquet(s"$data/${op.get("batch")}")

  def runOp(spark: SparkSession, i: Int): OpRecord = {
    val op = ops(i)
    val kind = op.get("kind").toString
    Trace.span("bench", kind, newOp = true)(kind match {
      case "append" => writeOp(i, "append", "append") {
        val df = batch(spark, op)
        val p = TxLog.writeBatch(df, tableDir, s"op$i")
        TxLog.commitWithStats(tableDir,
          Seq((p, TxLog.statsWithBloom(df, Seq("id", "val"), "id"))))
      }
      case "sql_merge" => writeOp(i, "sql_merge", "merge") {
        batch(spark, op).createOrReplaceTempView("bench_src")
        val (_, s) = Workload.timed(Trace.span("plans", "spark.sql")(
          spark.sql(s"""MERGE INTO $sqlTable t USING bench_src s
            ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")))
        Trace.add("plans.sql_call_s", s)
        Trace.add("plans.sql_call_n", 1)
        TxLog.latestVersion(tableDir)
      }
      case "delete_dv" => writeOp(i, "delete_dv", "delete_dv") {
        TxLog.deleteWhereDV(spark, tableDir, s"op$i",
          col("id").isin(keyList(op): _*))
      }
      case "update_dv" => writeOp(i, "update_dv", "update_dv") {
        val d = op.get("delta").asInstanceOf[Number].doubleValue
        TxLog.updateWhereDV(spark, tableDir, s"op$i",
          col("id").isin(keyList(op): _*), Seq("val" -> (col("val") + lit(d))))
      }
      case "checkpoint" => writeOp(i, "checkpoint", "checkpoint")(TxLog.checkpoint(tableDir))
      case "optimize" => writeOp(i, "optimize", "optimize") {
        TxLog.optimize(spark, tableDir, s"op$i", targetFiles = 4)
      }
      case "lookup" => readOp(i, kind, "sources") {
        val key = op.get("key").asInstanceOf[Number].longValue
        val found = TxLog.readPrunedByKey(spark, tableDir, "id", key.toString)
          .map(_.filter(col("id") === key).select("id", "grp", "val").collect())
          .getOrElse(Array.empty[Row])
        if (Trace.enabled) tracedLookups += key
        Map("key" -> key, "rows" -> Workload.rows(found))
      }
      case "snapshot_agg" => readOp(i, kind, "sources") {
        val (v, snapS) = Workload.timed(Trace.span("sources",
          "TxLog.liveEntries") {
          val v = TxLog.latestVersion(tableDir)
          TxLog.liveEntries(tableDir, v)
          v
        })
        Trace.add("sources.txlog_snapshot_s", snapS)
        Trace.add("sources.txlog_snapshot_n", 1)
        Map("version" -> v,
          "rows" -> aggRows(TxLog.read(spark, tableDir, asOf = v)))
      }
      case "time_travel" => readOp(i, kind, "sources") {
        val back = op.get("writes_back").asInstanceOf[Number].intValue
        val (at, v) = versions(math.max(0, versions.size - 1 - back))
        Map("after_op" -> at, "version" -> v,
          "rows" -> aggRows(TxLog.read(spark, tableDir, asOf = v)))
      }
      case "drain" => readOp(i, kind, "streaming") {
        val lag = TxLog.latestVersion(tableDir) - stream.position
        Trace.add("streaming.lag_versions", lag)
        Trace.add("streaming.drains", 1)
        stream.drain { (delta, _, _) =>
          if (Trace.enabled) tracedDeltas += delta
          val (_, s) = Workload.timed {
            state = stateRows(spark, Workload.rows(AggOps.statsDeltaSigned(
              state, delta, Seq(col("grp")), col("val"), col("sign"))
              .select("grp", "cnt", "sum_dec").collect()))
          }
          Trace.add("streaming.window_s", s)
          Trace.add("streaming.windows", 1)
        }
        Map("version" -> stream.position, "rows" -> Workload.rows(
          state.orderBy("grp").collect()))
      }
      case other => sys.error(s"unknown txlog op $other")
    })
  }

  override def finish(spark: SparkSession): Map[String, Any] = {
    val out = s"$work/final_snapshot"
    TxLog.read(spark, tableDir).select("id", "grp", "val")
      .write.mode("overwrite").parquet(out)
    Map("final_snapshot" -> out, "versions" -> versions.map { case (i, v) =>
      Seq(i, v) })
  }
}
