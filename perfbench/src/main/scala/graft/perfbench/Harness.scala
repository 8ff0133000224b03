package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.engine.GraftEngine

/** Runs one benchmark workload in this JVM and writes `result.json` to
  * the output directory; `run.py` launches it, checks the outputs and
  * prints the result line.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <dir> [--fixture <dir>] [--size full|tiny]
  * [--inject none|drop|corrupt]`.
  */
object Harness {
  /** The run's tracer; disabled unless `--trace 1`. */
  @volatile var tracer: Tracer = new Tracer(false, "")

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Catalog members of `catalog_mix`: short relational and LLM-data
    * queries, and one maintained-pair graph member. */
  val Relational: Seq[String] = Seq("q01", "q03", "q04", "q09", "q10", "q13", "q15", "q18",
    "q28", "q51")
  val LlmOps: Seq[String] = Seq("q35", "q36")
  val GraphMembers: Seq[String] = Seq("q236")

  /** Relay sizes: (backlog records, files, batches) and (rate/s, tick ms). */
  final case class RelaySize(records: Int, files: Int, batches: Int, rate: Int, tickMs: Int)
  val Full = RelaySize(100000, 20, 4, 10000, 100)
  val Tiny = RelaySize(20000, 8, 4, 2000, 100)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Files.createDirectories(Paths.get(arg("work")).toAbsolutePath)
    val out = Files.createDirectories(Paths.get(arg("out")).toAbsolutePath)
    val size = if (args.get("size").contains("tiny")) Tiny else Full
    val inject = args.getOrElse("inject", "none")
    val cpus = Runtime.getRuntime.availableProcessors()
    tracer = new Tracer(trace, s"$workload-$seed-${System.currentTimeMillis()}")
    Ledger.traceSends = trace
    Ledger.dropEvery = if (inject == "drop") 997 else 0

    def queries(members: Seq[String]) = new CatalogQueries(arg("fixture"), members,
      Relational.toSet, LlmOps.toSet, seed, out.resolve("results"), inject == "corrupt", tracer)
    val w: Workload = workload match {
      case "relay_backlog" =>
        new RelayBacklog(work, cpus, seed, size.records, size.files, size.batches, tracer)
      case "relay_steady" =>
        new RelaySteady(work, cpus, seed, size.rate, size.tickMs, seconds, tracer)
      case "catalog_mix" => queries(Relational ++ LlmOps ++ GraphMembers)
      case other => sys.error(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftEngine.sessionBuilder(s"local[$cpus]", cpus)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      w.stage(spark)
      w.warmUp(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val tv = System.nanoTime()
    w.verify(spark)
    val verifyS = (System.nanoTime() - tv) / 1e9

    val listeners = if (trace) Some(new Listeners(spark)) else None
    val tm = System.nanoTime()
    val m = w.measure(spark, seconds)
    listeners.foreach(_.drain())
    System.err.println(f"[perfbench] set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s, " +
      f"verify $verifyS%.2f s, measure ${(System.nanoTime() - tm) / 1e9}%.2f s")

    val e2e = m.e2e + ("setup_s" -> Stats.median(setups))
    val layers = listeners.map(l => Layers(l, m, cpus, e2e)).getOrElse(Map.empty)
    val (checked, verifyFailures) = w match {
      case q: CatalogQueries => (q.checked, q.verifyFailures.toSeq)
      case _ => (Nil, Nil)
    }
    val failures = verifyFailures ++ m.failures
    failures.foreach(f => System.err.println(s"[perfbench] failure: $f"))
    if (trace) tracer.write(out.resolve("spans.jsonl"))
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), checked.flatMap(n => oracle.get(n).map(n -> _))
      .map { case (n, q) => s"${str(n)}:${str(q)}" }.mkString("{", ",", "}"))

    val json =
      s"""{"e2e":${obj(e2e)},"layers":${obj(layers)},"attempted":${m.attempted + checked.size},""" +
      s""""failed":${m.failed + verifyFailures.size},"checked":[${checked.map(str).mkString(",")}],""" +
      s""""failures":[${failures.map(str).mkString(",")}],"spans":${tracer.count},""" +
      s""""latency_samples":${num(m.layer.getOrElse("latency_samples", 0.0))},""" +
      s""""box":{"cpus":$cpus,"max_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      s""""jdk":${str(System.getProperty("java.version"))},"spark":${str(spark.version)},""" +
      s""""setup_s":[${setups.map(num).mkString(",")}]}}"""
    Files.writeString(out.resolve("result.json"), json)
    spark.stop()
  }
}

/** Per-layer metrics of one traced run. Work totals (times, counts,
  * bytes) are divided by the window's units — drains of `relay_backlog`,
  * passes of `catalog_mix`, the whole window of `relay_steady` — so they
  * read per drain or per pass. Micro-batch times are means per batch.
  * JVM figures cover the whole process, set-up included. */
object Layers {
  def apply(l: Listeners, m: Measured, cpus: Int, e2e: Map[String, Double]): Map[String, Double] = {
    val u = m.units
    val mb = 1024.0 * 1024.0
    val ex = l.layer.exec
    val batches = l.progress.batches.toDouble
    def perBatch(k: String): Double = if (batches == 0) 0.0 else l.progress.durationMs(k) / batches
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val windowMs = m.windowNs / 1e6
    val fromListeners = Map(
      "connector.decode_encode_ms" -> l.layer.connectorMap.runMs / u,
      "connector.sort_send_ms" -> l.layer.connectorResult.runMs / u,
      "connector.shuffle_write_mb" -> l.layer.connectorMap.shuffleWrite / mb / u,
      "delivery.batches" -> batches / u,
      "delivery.rows_per_batch" -> (if (batches == 0) 0.0 else l.progress.rows / batches),
      "delivery.latest_offset_ms" -> perBatch("latestOffset"),
      "delivery.get_batch_ms" -> perBatch("getBatch"),
      "delivery.query_planning_ms" -> perBatch("queryPlanning"),
      "delivery.add_batch_ms" -> perBatch("addBatch"),
      "delivery.wal_commit_ms" -> perBatch("walCommit"),
      "delivery.trigger_ms" -> perBatch("triggerExecution"),
      "engine.analysis_ms" -> (l.phases.phaseMs("analysis") + m.buildAnalysisMs) / u,
      "engine.optimization_ms" -> l.phases.phaseMs("optimization") / u,
      "engine.planning_ms" -> l.phases.phaseMs("planning") / u,
      "engine.execution_ms" -> l.phases.executionNs / 1e6 / u,
      "engine.jobs" -> l.layer.jobs / u,
      "engine.stages" -> l.layer.stages / u,
      "engine.tasks" -> ex.tasks / u,
      "engine.broadcast_exchanges" -> l.phases.broadcasts / u,
      "engine.shuffle_exchanges" -> l.phases.shuffles / u,
      "exec.run_ms" -> ex.runMs / u,
      "exec.cpu_ms" -> ex.cpuNs / 1e6 / u,
      "exec.gc_ms" -> ex.gcMs / u,
      "exec.task_wait_ms" -> (if (ex.tasks == 0) 0.0 else ex.waitMs.toDouble / ex.tasks),
      "exec.shuffle_read_mb" -> ex.shuffleRead / mb / u,
      "exec.shuffle_write_mb" -> ex.shuffleWrite / mb / u,
      "exec.spill_mb" -> ex.spill / mb / u,
      "exec.busy_share" -> (if (windowMs <= 0) 0.0 else ex.runMs / (windowMs * cpus)),
      "ops.cached_mb_peak" -> l.layer.cachedPeak / mb,
      "jvm.heap_peak_mb" -> heapPeak / mb,
      "jvm.gc_ms" -> gcMs.toDouble,
      "error_rate" -> (if (m.attempted == 0) 0.0 else m.failed.toDouble / m.attempted))
    val traced = e2e.map { case (k, v) => s"traced.$k" -> v }
    Metrics.PerLayer.map(_ -> 0.0).toMap ++ fromListeners ++ m.layer ++ traced
  }
}

/** Every per-layer metric name a traced run prints (BENCHMARK.json lists
  * the same names with their units). */
object Metrics {
  val PerLayer: Seq[String] = Seq(
    "connector.decode_encode_ms", "connector.sort_send_ms", "connector.sender_busy_ms",
    "connector.shuffle_write_mb", "connector.send_skew", "connector.records_sent",
    "delivery.batches", "delivery.rows_per_batch", "delivery.start_ms",
    "delivery.latest_offset_ms", "delivery.get_batch_ms", "delivery.query_planning_ms",
    "delivery.add_batch_ms", "delivery.wal_commit_ms", "delivery.trigger_ms",
    "delivery.lag_records_max", "delivery.calls", "gen.late_ms_p99",
    "engine.analysis_ms", "engine.optimization_ms", "engine.planning_ms", "engine.execution_ms",
    "engine.jobs", "engine.stages", "engine.tasks", "engine.broadcast_exchanges",
    "engine.shuffle_exchanges",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.task_wait_ms", "exec.shuffle_read_mb",
    "exec.shuffle_write_mb", "exec.spill_mb", "exec.busy_share",
    "ops.init_s", "ops.plan_s", "ops.stage_s", "ops.q236_s", "ops.q237_s", "ops.q238_s",
    "ops.q243_s", "ops.cached_mb_peak",
    "queries.relational_s", "queries.llm_ops_s",
    "jvm.heap_peak_mb", "jvm.gc_ms",
    "latency_samples", "error_rate")
}
