package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{Normalize, RatesSource, Schemas, Sink}

/** One benchmark process: set up a session, run the workload's ops for R
  * rounds (round 1 cold, the rest warm), then write every op's output for
  * the correctness gate and a JSON record of the run.
  *
  * Usage: `perfbench.Main <config.json>`; `run.py` writes the config (seed,
  * workload, op list, data and scratch directories) and reads the record.
  *
  * Every timed op is the op's call plus a full materialization of the frame
  * it returns to Spark's `noop` sink. Timing `count()` instead lets Catalyst
  * prune the projection and most of the work; ops that do their work inside
  * the call (drains, day loads) have the call inside the timed region too.
  */
object Main {

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def list(xs: Iterable[Any]): JList[Any] = new JList[Any](xs.asJavaCollection)

  private def now(): Long = System.nanoTime()

  private def secs(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e9

  /** An op of the workload: `body` runs it once, returning named sub-phase
    * seconds (empty for registry ops).
    */
  final case class Op(name: String, layer: String, kind: String,
      body: Int => Map[String, Double])

  /** Rounds per process at least: one cold and three warm. More run while
    * the configured seconds last.
    */
  private val MinRounds = 4

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = cfg.get("cores").asInt
    val traced = cfg.get("trace").asBoolean
    val tmp = System.getProperty("java.io.tmpdir")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
      .config("spark.local.dir", cfg.get("spark_local_dir").asText)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val trace = new Trace
    if (traced) { sc.addSparkListener(trace); spark.streams.addListener(trace.streaming) }

    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val registry = SparkEntry.queries
    val ops = resolve(spark, cfg, registry)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val outFile = cfg.get("result").asText
    if (cfg.path("setup_only").asBoolean(false)) {
      write(outFile, obj("setup_s" -> setupS, "session_s" -> sessionS))
      spark.stop()
      return
    }

    val seed = cfg.get("seed").asLong
    val seconds = cfg.get("seconds").asDouble
    // day loads keep their calendar order in every round, as a daily job
    // appends them; the other workloads run warm rounds in a seeded order
    val shuffled = !ops.exists(_.kind == "day")
    val rounds = new JList[Any]()
    val runId = java.util.UUID.randomUUID().toString
    val runStart = now()
    var r = 0
    while (r < MinRounds || secs(runStart, now()) < seconds) {
      r += 1
      // the cold round runs in list order, so every seed pays the same
      // first-touch sequence; warm rounds run in a seeded order
      val order =
        if (shuffled && r > 1) new scala.util.Random(seed * 1000 + r).shuffle(ops)
        else ops
      val recs = new JList[Any]()
      val roundStart = now()
      order.foreach { op =>
        sc.setJobGroup(s"op:$r:${op.name}", op.name, interruptOnCancel = false)
        val counters = if (traced) trace.begin() else null
        val t0 = now()
        val (ok, err, sub) =
          try { val s = op.body(r); (true, null, s) }
          catch { case e: Throwable => (false, e.toString.take(400), Map.empty[String, Double]) }
        val t1 = now()
        if (traced) { org.apache.spark.PerfbenchBus.drain(sc); trace.end() }
        sc.clearJobGroup()
        System.err.println(f"[perfbench] round $r ${op.name} ${secs(t0, t1)}%.3fs ok=$ok")
        recs.add(obj(
          "name" -> op.name, "layer" -> op.layer, "kind" -> op.kind,
          "run_id" -> runId, "parent" -> s"round:$r",
          "start_s" -> secs(runStart, t0), "end_s" -> secs(runStart, t1),
          "s" -> secs(t0, t1), "ok" -> ok, "err" -> err,
          "sub" -> sub.asJava,
          "trace" -> (if (counters == null) null else countersJson(counters))))
      }
      val roundEnd = now()
      rounds.add(obj("round" -> r, "run_id" -> runId,
        "start_s" -> secs(runStart, roundStart), "end_s" -> secs(runStart, roundEnd),
        "wall_s" -> secs(roundStart, roundEnd), "ops" -> recs))
    }
    if (traced) { sc.removeSparkListener(trace); spark.streams.removeListener(trace.streaming) }

    // correctness gate, outside every timed region: each read and drain op
    // writes its frame once more for the DuckDB oracle compare
    val checkDir = cfg.get("check_dir").asText
    val oracle = new JMap[String, Any]()
    val checkErr = new JMap[String, Any]()
    val tables = cfg.get("tables").asText
    ops.filter(_.kind != "day").foreach { op =>
      SparkEntry.oracleSql.get(op.name).foreach(oracle.put(op.name, _))
      try registry(op.name)(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/${op.name}")
      catch { case e: Throwable => checkErr.put(op.name, e.toString.take(400)) }
    }

    val storage = sc.getRDDStorageInfo
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    write(outFile, obj(
      "setup_s" -> setupS,
      "cores" -> cores,
      "rounds" -> rounds,
      "oracle" -> oracle,
      "check_errors" -> checkErr,
      "peak_rss_mb" -> vmHwmMb(),
      "jvm_gc_s" -> gcS,
      "jvm_heap_peak_mb" -> heapPeakMb,
      "cache_rdds" -> storage.length,
      "cache_mem_bytes" -> storage.map(_.memSize).sum))
    spark.stop()
  }

  /** Resolve the configured op list: registry ops by name, and for the
    * ingest workload one day-load op per generated day.
    */
  private def resolve(spark: SparkSession, cfg: JsonNode,
      registry: Map[String, (SparkSession, String) => DataFrame]): Seq[Op] = {
    val tables = cfg.get("tables").asText
    val tmp = System.getProperty("java.io.tmpdir")
    val days = cfg.path("days").elements().asScala.toSeq.map { d =>
      val day = d.get("day").asText
      Op(s"day:$day", "etl", "day",
        r => loadDay(spark, s"$tmp/ingest/r$r", day, d.get("insights").asText,
          d.get("quote").asText, d.get("redeliver").asBoolean))
    }
    val named = cfg.get("ops").elements().asScala.toSeq.map { o =>
      val name = o.get("name").asText
      val fn = registry.getOrElse(name, sys.error(s"unknown op $name"))
      Op(name, o.get("layer").asText, o.get("kind").asText, _ => {
        fn(spark, tables).write.format("noop").mode("overwrite").save()
        Map.empty
      })
    }
    days ++ named
  }

  /** One day of the reference's daily job, against the table root of the
    * current round: the raw insights JSONL is read under the raw schema,
    * normalized, and appended to the day-partitioned `fb_stat`; the day's
    * FX quote is appended to `exchange_rate`; a re-delivered day goes
    * through the keyed sink into its committed partition and must land no
    * rows.
    */
  private def loadDay(spark: SparkSession, root: String, day: String,
      insights: String, quote: String, redeliver: Boolean): Map[String, Double] = {
    Sink.ensureNamespace(root)
    def rawDay: DataFrame = spark.read.schema(Schemas.fbInsightsRaw).json(insights)
    val t0 = now()
    Sink.appendPartitioned(Normalize(rawDay), s"$root/fb_stat")
    val t1 = now()
    // RatesSource's success gate, JSON-path extraction, casts and concat
    // over the day's quote document: RatesSource only exposes them over its
    // own in-code quotes, so `append_fx_s` is this extraction plus
    // Sink.append, not RatesSource's own code
    val doc = spark.read.text(quote)
    val fx = doc
      .filter(get_json_object(col("value"), "$.success") === "true")
      .select(
        to_date(get_json_object(col("value"), "$.date"), "yyyy-MM-dd").as("date"),
        concat(get_json_object(col("value"), "$.source"), lit("UAH")).as("currencies"),
        get_json_object(col("value"), s"$$.quotes.${RatesSource.Pair}")
          .cast("double").as("rate"))
    Sink.append(fx, s"$root/exchange_rate")
    val t2 = now()
    if (redeliver)
      Sink.appendKeyed(Normalize(rawDay).drop(Schemas.partitionCol),
        s"$root/fb_stat/${Schemas.partitionCol}=$day", Seq("ad_id"))
    val t3 = now()
    Map("append_s" -> secs(t0, t1), "append_fx_s" -> secs(t1, t2)) ++
      (if (redeliver) Map("append_keyed_s" -> secs(t2, t3)) else Map.empty)
  }

  private def countersJson(c: OpCounters): JMap[String, Any] = obj(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "task_run_ms" -> c.taskRunMs, "task_cpu_ns" -> c.taskCpuNs,
    "task_gc_ms" -> c.taskGcMs,
    "shuffle_write_bytes" -> c.shuffleWriteBytes,
    "shuffle_read_bytes" -> c.shuffleReadBytes,
    "spill_bytes" -> c.spillBytes,
    "input_bytes" -> c.inputBytes, "input_records" -> c.inputRecords,
    "output_bytes" -> c.outputBytes,
    "stage_tasks" -> list(c.stageTasks.values.map { case (mx, sum, n) => list(Seq(mx, sum, n)) }),
    "batches" -> c.batches, "batch_input_rows" -> c.batchInputRows,
    "phase_ms" -> c.phaseMs.toMap.asJava)

  /** Peak resident set size of this process (`VmHWM`), in MB. */
  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }

  private def write(path: String, v: Any): Unit =
    new ObjectMapper().writeValue(new File(path), v)
}
