package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.connector.{FileTopicSource, RecordSender, TopicSink, TopicSource}
import graft.delivery.Delivery
import graft.model.ConsumerConfig

/** What the generator wrote, and what the benchmark's sender received.
  * Local mode runs every task in this JVM, so one static ledger sees every
  * send. Record ids are dense (0 until the allocated size) and increase with the
  * order the generator wrote them, so per-key order is id order. */
object Ledger {
  @volatile private var keyOf: Array[Int] = Array.emptyIntArray
  @volatile private var createdNs: Array[Long] = Array.emptyLongArray
  @volatile private var sentNs: Array[Long] = Array.emptyLongArray
  @volatile private var delivered = new AtomicIntegerArray(0)
  @volatile private var lastId = new AtomicLongArray(0)
  private val outOfOrder, wrongKey, unknown, firstDeliveries = new AtomicLong
  /** Ids below this bound have been generated. */
  val generated = new AtomicLong

  // tracing only
  @volatile var traceSends = false
  @volatile var sendParent = 0L
  val busyNs = new LongAdder
  val perPartition = new ConcurrentLinkedQueue[java.lang.Long]()
  /** Fault injection for the self-test: each sender drops every n-th record. */
  @volatile var dropEvery = 0

  def allocate(capacity: Int, keys: Int): Unit = {
    keyOf = new Array[Int](capacity)
    createdNs = new Array[Long](capacity)
    generated.set(0)
    lastId = new AtomicLongArray(keys)
    clearDeliveries()
  }

  /** Register record `id` before its file becomes visible. */
  def create(id: Int, key: Int, atNs: Long): Unit = { keyOf(id) = key; createdNs(id) = atNs }

  def created(id: Int): Long = createdNs(id)

  def clearDeliveries(): Unit = {
    sentNs = new Array[Long](keyOf.length)
    delivered = new AtomicIntegerArray(keyOf.length)
    for (k <- 0 until lastId.length) lastId.set(k, -1L)
    Seq(outOfOrder, wrongKey, unknown, firstDeliveries).foreach(_.set(0))
    busyNs.reset()
    perPartition.clear()
  }

  def deliveredCount: Long = firstDeliveries.get

  /** Payloads are `{"event_id":<id>,…}` (the encoder's field order). */
  private val Prefix = "{\"event_id\":".getBytes(UTF_8)

  private def parseId(data: Array[Byte]): Long = {
    if (data.length <= Prefix.length) return -1L
    var i = 0
    while (i < Prefix.length) { if (data(i) != Prefix(i)) return -1L; i += 1 }
    var v = 0L
    var digits = 0
    while (i < data.length && data(i) >= '0' && data(i) <= '9' && digits < 12) {
      v = v * 10 + (data(i) - '0'); i += 1; digits += 1
    }
    if (digits == 0) -1L else v
  }

  def deliver(partitionKey: String, data: Array[Byte]): Unit = {
    val id = parseId(data)
    if (id < 0 || id >= generated.get) { unknown.incrementAndGet(); return }
    val i = id.toInt
    if (delivered.incrementAndGet(i) == 1) {
      sentNs(i) = System.nanoTime()
      firstDeliveries.incrementAndGet()
    }
    val key = keyOf(i)
    if (!partitionKey.equals(Integer.toString(key))) wrongKey.incrementAndGet()
    if (lastId.getAndSet(key, id) > id) outOfOrder.incrementAndGet()
  }

  /** Failures among ids [from, until): lost, duplicated, per-key
    * out-of-order, wrong-key and unknown records. */
  final case class Check(attempted: Long, lost: Long, duplicated: Long, outOfOrder: Long,
                         wrongKey: Long, unknown: Long) {
    def failed: Long = lost + duplicated + outOfOrder + wrongKey + unknown
  }

  def check(from: Int, until: Int): Check = {
    var lost, dup = 0L
    var i = from
    while (i < until) {
      val c = delivered.get(i)
      if (c == 0) lost += 1 else if (c > 1) dup += c - 1
      i += 1
    }
    Check(until - from, lost, dup, outOfOrder.get, wrongKey.get, unknown.get)
  }

  /** Nanoseconds from `from(id)` to the send of each delivered id. */
  def latencies(fromId: Int, untilId: Int, from: Int => Long): Array[Long] = {
    val out = mutable.ArrayBuilder.make[Long]
    var i = fromId
    while (i < untilId) { if (sentNs(i) != 0L) out += sentNs(i) - from(i); i += 1 }
    out.result()
  }

  def lastSendNs(fromId: Int, untilId: Int): Long = {
    var m = 0L
    var i = fromId
    while (i < untilId) { m = m.max(sentNs(i)); i += 1 }
    m
  }
}

/** The benchmark's own sink: hands each record to the [[Ledger]]. */
final class LedgerSender extends RecordSender {
  private var n = 0L
  private val opened = System.nanoTime()
  override def send(partitionKey: String, data: Array[Byte], explicitHashKey: Option[String]): Unit = {
    n += 1
    if (Ledger.traceSends) {
      val t = System.nanoTime()
      deliver(partitionKey, data)
      Ledger.busyNs.add(System.nanoTime() - t)
    } else deliver(partitionKey, data)
  }
  private def deliver(partitionKey: String, data: Array[Byte]): Unit =
    if (Ledger.dropEvery <= 0 || n % Ledger.dropEvery != 0) Ledger.deliver(partitionKey, data)
  override def close(): Unit = if (Ledger.traceSends) {
    Ledger.perPartition.add(n)
    Harness.tracer.record("connector.send", Ledger.sendParent, opened, System.nanoTime())
  }
}

/** Writes envelope files for the relay: JSON lines of
  * `{"data": base64(payload), "partitionKey": user_id, "seq": id}` with a
  * payload of `{"event_id","user_id","event_type","value"}`, the shape of
  * the events fixture. Keys are drawn uniformly over `keys` users, as the
  * fixture draws them, which gives its multinomial key skew. Each file is
  * written under a hidden name and renamed, so the file source never sees
  * a partial file. */
final class EnvelopeWriter(seed: Long, keys: Int) {
  private val rng = new java.util.SplittableRandom(seed)
  private val types = Array("click", "error", "purchase", "signup", "view")
  private val b64 = java.util.Base64.getEncoder

  def write(dir: Path, name: String, from: Int, until: Int, createdNs: Long,
            mtimeMs: Long = -1L): Unit = {
    val tmp = dir.resolve("." + name + ".tmp")
    val w = Files.newBufferedWriter(tmp, UTF_8)
    try {
      var i = from
      while (i < until) {
        val user = rng.nextInt(keys)
        val value = math.max(1L, math.round(-math.log(1.0 - rng.nextDouble()) * 5000.0)) / 100.0
        val payload = s"""{"event_id":$i,"user_id":$user,"event_type":"${types(rng.nextInt(types.length))}","value":$value}"""
        w.write(s"""{"data":"${b64.encodeToString(payload.getBytes(UTF_8))}","partitionKey":"$user","seq":$i}""")
        w.newLine()
        Ledger.create(i, user, createdNs)
        i += 1
      }
    } finally w.close()
    Ledger.generated.accumulateAndGet(until.toLong, (a, b) => a.max(b))
    val dest = dir.resolve(name)
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
    if (mtimeMs >= 0) Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeMs))
  }
}

/** The relay under test: `Delivery.atLeastOnce` over a `FileTopicSource`,
  * each micro-batch running `decodeJson` → `encodeJsonOrdered` →
  * `TopicSink.writeOrdered` into a [[LedgerSender]]. */
final class Relay(spark: SparkSession, cpus: Int, tracer: Tracer) {
  import Relay._

  /** Nanoseconds from each call to its first micro-batch. */
  val startDelays = mutable.ArrayBuffer.empty[Long]

  /** One at-least-once delivery run to completion over what the source
    * holds when it starts. */
  def deliverOnce(dir: String, filesPerTrigger: Int, group: String, checkpointRoot: String): Unit = {
    val source = FileTopicSource("relay", dir, "json", envelopeSchema,
      ConsumerConfig(None, maxBatchSize = filesPerTrigger))
    @volatile var firstBatch = 0L
    val called = System.nanoTime()
    tracer.span("delivery.atLeastOnce") {
      val parent = tracer.currentId
      val query = Delivery.atLeastOnce(source.load(spark), group, checkpointRoot) {
        (batch: DataFrame, _: Long) =>
          if (firstBatch == 0L) firstBatch = System.nanoTime()
          tracer.span("delivery.batch", parent) { relayBatch(batch) }
      }
      query.awaitTermination()
    }
    if (firstBatch != 0L) startDelays += firstBatch - called
  }

  private def relayBatch(batch: DataFrame): Unit = {
    val decoded = tracer.span("connector.decodeJson") {
      TopicSource.decodeJson(batch, payloadSchema)
    }
    val flowed = decoded.select(col("payload.*"), col("seq"))
    val envelopes = tracer.span("connector.encodeJsonOrdered") {
      TopicSource.encodeJsonOrdered(flowed, "seq", Some("user_id"))
    }
    tracer.span("connector.writeOrdered") {
      Ledger.sendParent = tracer.currentId
      val sc = spark.sparkContext
      sc.setLocalProperty(LayerListener.LayerProperty, "connector")
      try TopicSink.writeOrdered(envelopes, "seq", () => new LedgerSender, cpus)
      finally sc.setLocalProperty(LayerListener.LayerProperty, null)
    }
  }
}

object Relay {
  val Keys = 1500

  val envelopeSchema: StructType = StructType(Seq(
    StructField("data", BinaryType), StructField("partitionKey", StringType),
    StructField("seq", LongType)))

  val payloadSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  def freshDir(p: Path): Path = {
    graft.ops.LocalFiles.deleteRecursively(p.toString)
    Files.createDirectories(p)
  }

  def perPartitionCounts: Seq[Long] = Ledger.perPartition.asScala.map(_.longValue).toSeq
}
