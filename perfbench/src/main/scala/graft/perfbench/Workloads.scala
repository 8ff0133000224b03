package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.{PhaseTimer, Tables}

/** What a measured window produced. `e2e` holds every end-to-end metric;
  * `layer` holds the per-layer values only the workload can know (the
  * harness adds the listener-derived ones). `units` is the number of
  * drains or passes the per-layer totals are divided by. */
final case class Measured(
    e2e: Map[String, Double],
    layer: Map[String, Double],
    units: Double,
    windowNs: Long,
    buildAnalysisMs: Double,
    attempted: Long,
    failed: Long,
    failures: Seq[String])

trait Workload {
  /** Inputs the program reads, written again on every set-up. */
  def stage(spark: SparkSession): Unit
  /** A short run of the workload's path, so the JIT and Spark's caches fill. */
  def warmUp(spark: SparkSession): Unit
  /** Untimed pass whose outputs are checked after the run; may be empty. */
  def verify(spark: SparkSession): Unit = ()
  def measure(spark: SparkSession, seconds: Double): Measured
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def quantileNs(xs: Array[Long], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.clone()
    java.util.Arrays.sort(s)
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Closed loop: one backlog of `records` envelope records in `files` files
  * drained by one `Delivery.atLeastOnce` call in `batches` micro-batches.
  * The staged backlog is drained again, under a fresh consumer group,
  * until the window is spent; metrics are medians over the drains. Every
  * record is due when a drain starts, so its latency is the time from the
  * drain's start to its send. */
final class RelayBacklog(work: Path, cpus: Int, seed: Long, records: Int, files: Int,
                         batches: Int, tracer: Tracer) extends Workload {
  private val src = work.resolve("backlog")
  private val warmSrc = work.resolve("backlog-warm")
  private val perFile = (records + files - 1) / files
  private val warmFiles = 2

  def stage(spark: SparkSession): Unit = {
    Ledger.allocate(records, Relay.Keys)
    Relay.freshDir(src)
    Relay.freshDir(warmSrc)
    val writer = new EnvelopeWriter(seed, Relay.Keys)
    val base = System.currentTimeMillis() - 3600 * 1000L
    for (f <- 0 until files) {
      val name = f"part-$f%05d.json"
      writer.write(src, name, f * perFile, ((f + 1) * perFile).min(records), 0L, base + f * 1000L)
      if (f < warmFiles) Files.copy(src.resolve(name), warmSrc.resolve(name))
    }
  }

  def warmUp(spark: SparkSession): Unit = {
    Ledger.clearDeliveries()
    new Relay(spark, cpus, tracer).deliverOnce(warmSrc.toString, 1, "backlog-warm",
      Relay.freshDir(work.resolve("ckpt-warm")).toString)
  }

  def measure(spark: SparkSession, seconds: Double): Measured = {
    val relay = new Relay(spark, cpus, tracer)
    val perTrigger = math.max(1, files / batches)
    val rps, walls, p50, p99 = mutable.ArrayBuffer.empty[Double]
    var failed, attempted, sent = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val ckpt = Relay.freshDir(work.resolve("ckpt-backlog"))
    val t0 = System.nanoTime()
    var drain = 0
    while (drain == 0 || System.nanoTime() - t0 < seconds * 1e9) {
      Ledger.clearDeliveries()
      val start = System.nanoTime()
      relay.deliverOnce(src.toString, perTrigger, s"backlog-$drain", ckpt.toString)
      val wall = (System.nanoTime() - start) / 1e9
      System.err.println(f"[perfbench] drain $drain $wall%.3f s")
      val c = Ledger.check(0, records)
      if (c.failed > 0) failures += s"drain $drain: $c"
      failed += c.failed
      attempted += records
      sent += Ledger.deliveredCount
      val lat = Ledger.latencies(0, records, _ => start)
      walls += wall
      rps += records / wall
      if (lat.nonEmpty) {
        p50 += Stats.quantileNs(lat, 0.50) / 1e6
        p99 += Stats.quantileNs(lat, 0.99) / 1e6
      }
      drain += 1
    }
    // the window's first drain still compiles the path; it is not reported
    Seq(rps, walls, p50, p99).foreach(b => if (b.size > 1) b.remove(0))
    val window = System.nanoTime() - t0
    Measured(
      e2e = Map(
        "records_per_s" -> Stats.median(rps.toSeq),
        "latency_p50_ms" -> Stats.median(p50.toSeq),
        "latency_p99_ms" -> Stats.median(p99.toSeq),
        "wall_s" -> Stats.median(walls.toSeq)),
      layer = RelayLayers(relay, sent, drain.toDouble, lagMax = records, genLateP99Ms = 0.0,
        samples = records.toLong),
      units = drain, windowNs = window, buildAnalysisMs = 0.0, attempted = attempted, failed = failed,
      failures = failures.toSeq)
  }
}

/** Open loop: a generator thread appends one envelope file of
  * `rate × tickMs / 1000` records every `tickMs`, on a schedule that never
  * waits for the relay, stamping each record with its scheduled creation
  * time. The relay calls `Delivery.atLeastOnce` back to back (its only
  * trigger is AvailableNow). After the window the generator stops and the
  * relay drains what is left, so every generated record is checked. */
final class RelaySteady(work: Path, cpus: Int, seed: Long, rate: Int, tickMs: Int,
                        seconds: Double, tracer: Tracer) extends Workload {
  private val perTick = math.max(1, rate * tickMs / 1000)
  private val ticks = math.ceil(seconds * 1000 / tickMs).toInt
  private val warmTicks = 5
  private val firstId = warmTicks * perTick
  private val src = work.resolve("steady")
  private val warmSrc = work.resolve("steady-warm")
  private var writer: EnvelopeWriter = _

  def stage(spark: SparkSession): Unit = {
    Ledger.allocate(firstId + ticks * perTick, Relay.Keys)
    Relay.freshDir(src)
    Relay.freshDir(warmSrc)
    writer = new EnvelopeWriter(seed, Relay.Keys)
    for (t <- 0 until warmTicks)
      writer.write(warmSrc, f"part-$t%05d.json", t * perTick, (t + 1) * perTick, System.nanoTime())
  }

  def warmUp(spark: SparkSession): Unit = {
    Ledger.clearDeliveries()
    new Relay(spark, cpus, tracer).deliverOnce(warmSrc.toString, Int.MaxValue, "steady-warm",
      Relay.freshDir(work.resolve("ckpt-warm")).toString)
  }

  def measure(spark: SparkSession, seconds: Double): Measured = {
    val relay = new Relay(spark, cpus, tracer)
    val ckpt = Relay.freshDir(work.resolve("ckpt-steady"))
    Ledger.clearDeliveries()
    val tickNs = tickMs * 1000000L
    val start = System.nanoTime() + 100 * 1000000L
    val lateNs = new Array[Long](ticks)
    @volatile var lagMax = 0L
    @volatile var genError: Throwable = null
    val gen = new Thread(() => {
      try {
        var t = 0
        while (t < ticks) {
          val due = start + t * tickNs
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          lateNs(t) = (System.nanoTime() - due).max(0L)
          val from = firstId + t * perTick
          writer.write(src, f"part-$t%06d.json", from, from + perTick, due)
          lagMax = lagMax.max(Ledger.generated.get - firstId - Ledger.deliveredCount)
          t += 1
        }
      } catch { case e: Throwable => genError = e }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    val end = start + ticks * tickNs
    var calls = 0
    while (System.nanoTime() < end) {
      relay.deliverOnce(src.toString, Int.MaxValue, "steady", ckpt.toString)
      calls += 1
    }
    gen.join()
    val until = firstId + ticks * perTick
    var tail = 0
    while (Ledger.deliveredCount < until - firstId && tail < 3) {
      relay.deliverOnce(src.toString, Int.MaxValue, "steady", ckpt.toString)
      tail += 1
    }
    val c = Ledger.check(firstId, until)
    val lat = Ledger.latencies(firstId, until, Ledger.created)
    val lastSend = Ledger.lastSendNs(firstId, until)
    val wall = (lastSend - start) / 1e9
    val failures = Seq(s"steady: $c").filter(_ => c.failed > 0) ++
      Option(genError).map(e => s"generator: $e")
    Measured(
      e2e = Map(
        "records_per_s" -> Ledger.deliveredCount / wall,
        "latency_p50_ms" -> Stats.quantileNs(lat, 0.50) / 1e6,
        "latency_p99_ms" -> Stats.quantileNs(lat, 0.99) / 1e6,
        "wall_s" -> wall),
      layer = RelayLayers(relay, Ledger.deliveredCount, 1.0, lagMax,
        genLateP99Ms = Stats.quantileNs(lateNs, 0.99) / 1e6, samples = lat.length.toLong) ++
        Map("delivery.calls" -> calls.toDouble),
      units = 1.0, windowNs = lastSend - start, buildAnalysisMs = 0.0, attempted = c.attempted,
      failed = c.failed + (if (genError != null) 1 else 0), failures = failures)
  }
}

object RelayLayers {
  /** Relay-side per-layer values the listeners cannot see. */
  def apply(relay: Relay, sent: Long, units: Double, lagMax: Long, genLateP99Ms: Double,
            samples: Long): Map[String, Double] = {
    val parts = Relay.perPartitionCounts
    val skew = if (parts.isEmpty) 0.0 else parts.max / math.max(1.0, Stats.median(parts.map(_.toDouble)))
    Map(
      "connector.sender_busy_ms" -> Ledger.busyNs.sum / 1e6 / units,
      "connector.send_skew" -> skew,
      "connector.records_sent" -> sent / units,
      "delivery.start_ms" ->
        (if (relay.startDelays.isEmpty) 0.0 else relay.startDelays.sum / 1e6 / relay.startDelays.size),
      "delivery.lag_records_max" -> lagMax.toDouble,
      "gen.late_ms_p99" -> genLateP99Ms,
      "latency_samples" -> samples.toDouble)
  }
}

/** Closed loop, one client: the `members` catalog queries run in an order
  * the seed sets, each written to the `noop` sink (every projected column
  * is computed), in whole passes while they fit the window (at least one).
  * The untimed verify pass before them writes each result to parquet for
  * the oracle check, and fills the JIT and Spark's code caches. */
final class CatalogQueries(fixture: String, members: Seq[String], relational: Set[String],
                           llm: Set[String], seed: Long, out: Path, corrupt: Boolean,
                           tracer: Tracer)
    extends Workload {
  private def byKey(key: String): (String, (SparkSession, String) => DataFrame) =
    SparkEntry.queries.find(_._1.startsWith(key + "_"))
      .getOrElse(sys.error(s"no catalog query $key"))
  private val order = new scala.util.Random(seed).shuffle(members.map(byKey))
  private val warmQuery = byKey("q01")._2
  /** Queries that threw in the verify pass, and why. */
  val verifyFailures = mutable.ArrayBuffer.empty[String]

  def stage(spark: SparkSession): Unit =
    Tables.names.foreach(n => Tables.table(spark, fixture, n).schema)

  def warmUp(spark: SparkSession): Unit =
    warmQuery(spark, fixture).write.format("noop").mode("overwrite").save()

  override def verify(spark: SparkSession): Unit = {
    val corrupted = members.min
    order.foreach { case (name, fn) =>
      try {
        val df = fn(spark, fixture)
        val result = if (corrupt && name.startsWith(corrupted + "_")) df.union(df.limit(1)) else df
        result.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
      } catch { case e: Throwable => verifyFailures += s"$name: $e" }
      spark.catalog.clearCache()
    }
  }

  def checked: Seq[String] = order.map(_._1)

  /** Analysis time of a built DataFrame: Datasets are analyzed when they
    * are built, in their own QueryExecution, not in the write's. */
  private def analysisMs(df: DataFrame): Long = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] =>
      d.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
    case _ => 0L
  }

  def measure(spark: SparkSession, seconds: Double): Measured = {
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val memberS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val phaseS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var buildAnalysisMs = 0L
    val t0 = System.nanoTime()
    // whole passes only, and none that would end past the window
    while (passWalls.isEmpty ||
        System.nanoTime() - t0 + passWalls.last * 1e9 <= seconds * 1e9) {
      val p0 = System.nanoTime()
      order.foreach { case (name, fn) =>
        val key = name.takeWhile(_ != '_')
        if (tracer.enabled) PhaseTimer.setContext(key)
        val q0 = System.nanoTime()
        try tracer.span(s"query.$key") {
          val df = tracer.span("query.build")(fn(spark, fixture))
          if (tracer.enabled) buildAnalysisMs += analysisMs(df)
          tracer.span("query.execute")(df.write.format("noop").mode("overwrite").save())
        } catch { case e: Throwable => failures += s"$name: $e" }
        val dt = (System.nanoTime() - q0) / 1e9
        if (tracer.enabled) {
          PhaseTimer.clearContext()
          PhaseTimer.drain().foreach { case (k, v) => phaseS(k.dropWhile(_ != '.').drop(1)) += v }
        }
        spark.catalog.clearCache()
        attempted += 1
        latencies += dt * 1000
        memberS(key) += dt
      }
      passWalls += (System.nanoTime() - p0) / 1e9
      System.err.println(f"[perfbench] pass ${passWalls.size} ${passWalls.last}%.3f s")
    }
    val passes = passWalls.size.toDouble
    def timeOf(keys: Set[String]) = memberS.collect { case (k, v) if keys(k) => v }.sum
    Measured(
      e2e = Map(
        "latency_p50_ms" -> Stats.median(latencies.toSeq),
        "latency_p99_ms" -> Stats.quantile(latencies.toSeq, 0.99),
        "wall_s" -> Stats.median(passWalls.toSeq)),
      layer = Map(
        "ops.init_s" -> phaseS("init") / passes,
        "ops.plan_s" -> phaseS("plan") / passes,
        "ops.stage_s" -> phaseS("stage") / passes,
        "queries.relational_s" -> timeOf(relational) / passes,
        "queries.llm_ops_s" -> timeOf(llm) / passes,
        "latency_samples" -> latencies.size.toDouble) ++
        Seq("q236", "q237", "q238", "q243").map(k => s"ops.${k}_s" -> memberS(k) / passes),
      units = passes, windowNs = System.nanoTime() - t0, buildAnalysisMs = buildAnalysisMs.toDouble,
      attempted = attempted,
      failed = failures.size, failures = failures.toSeq)
  }
}
