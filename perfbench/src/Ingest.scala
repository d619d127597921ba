package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions.{col, sum => fsum}
import graft.core._
import graft.core.AstarteValueType._
import graft.events.EventSink
import graft.sources.{BrokerClient, MessageBroker}
import graft.storage.AstarteStore
import graft.streaming._
import graft.triggers._

/** Ack timing: a message is acknowledged at the first moment its
  * shard's broker ack floor (`MessageBroker.baseOffsets`, advanced by
  * the source's commit) is above its offset.
  */
object Ack {
  /** `tNs(k)` / `floors(k)(shard)`: the floor timeline, in time order,
    * floors non-decreasing per shard. Returns per-message ack time, or
    * Long.MaxValue for a message the timeline never acknowledges.
    */
  def ackTimes(shard: Array[Int], offset: Array[Long],
      tNs: Array[Long], floors: Array[Array[Long]]): Array[Long] =
    Array.tabulate(shard.length) { i =>
      val s = shard(i); val o = offset(i)
      var lo = 0; var hi = tNs.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (floors(mid)(s) > o) hi = mid else lo = mid + 1
      }
      if (lo < tNs.length) tNs(lo) else Long.MaxValue
    }

  /** Latency from the scheduled send to the ack, in ms (NaN if unacked). */
  def latenciesMs(dueNs: Array[Long], ack: Array[Long]): Array[Double] =
    Array.tabulate(dueNs.length) { i =>
      if (ack(i) == Long.MaxValue) Double.NaN else (ack(i) - dueNs(i)) / 1e6
    }
}

/** Polls the broker's ack floors and end offsets from outside the
  * pipeline, keeping every floor change with its time.
  */
final class FloorMonitor(broker: MessageBroker, periodNs: Long = 2000000L) extends AutoCloseable {
  @volatile private var running = true
  private val times = mutable.ArrayBuffer.empty[Long]
  private val floors = mutable.ArrayBuffer.empty[Array[Long]]
  // (time, backlog) samples
  private val backlog = mutable.ArrayBuffer.empty[(Long, Long)]
  private var last: Seq[Long] = Nil

  private val t = new Thread(() => {
    while (running) {
      val now = System.nanoTime()
      val f = broker.baseOffsets
      val e = broker.endOffsets
      synchronized {
        if (f != last) { times += now; floors += f.toArray; last = f }
        backlog += (now -> (e.sum - f.sum))
      }
      java.util.concurrent.locks.LockSupport.parkNanos(periodNs)
    }
  }, "perfbench-floor")
  t.setDaemon(true)
  t.start()

  def timeline: (Array[Long], Array[Array[Long]]) = synchronized((times.toArray, floors.toArray))
  def backlogIn(fromNs: Long, toNs: Long): Seq[Double] =
    synchronized(backlog.filter(b => b._1 >= fromNs && b._1 <= toNs).map(_._2.toDouble).toList)
  /** Least-squares slope of the backlog over time in the window, msg/s:
    * about 0 below capacity, the offered rate minus capacity above it.
    */
  def backlogSlopeIn(fromNs: Long, toNs: Long): Double = synchronized {
    val xs = backlog.filter(b => b._1 >= fromNs && b._1 <= toNs)
    if (xs.length < 2) Double.NaN
    else {
      val t = xs.map(b => (b._1 - fromNs) / 1e9); val v = xs.map(_._2.toDouble)
      val (mt, mv) = (t.sum / t.length, v.sum / v.length)
      t.indices.map(i => (t(i) - mt) * (v(i) - mv)).sum / t.map(x => (x - mt) * (x - mt)).sum
    }
  }
  override def close(): Unit = { running = false; t.join() }
}

object Registries {
  import Gen._
  val telemetry = InterfaceDescriptor(Telemetry, 1, 0, InterfaceType.Datastream,
    Ownership.Device, Aggregation.Individual)
  val config = InterfaceDescriptor(Config, 1, 0, InterfaceType.Properties,
    Ownership.Device, Aggregation.Individual)
  val position = InterfaceDescriptor(Position, 1, 0, InterfaceType.Datastream,
    Ownership.Device, Aggregation.Object)
  val positionMappings = Seq(
    Mapping(Position, 1, "/lat", ADouble), Mapping(Position, 1, "/lon", ADouble))

  val registry: Registry = Registry(
    Map(Telemetry -> telemetry, Config -> config, Position -> position),
    Map(
      Telemetry -> Seq(Mapping(Telemetry, 1, "/%{sensor}/value", ADouble)),
      Config -> Seq(Mapping(Config, 1, "/%{key}/setpoint", ADouble, allowUnset = true)),
      Position -> positionMappings),
    Seq(
      Trigger("hot", TriggerEventType.IncomingData, TriggerScope.OnInterface(Telemetry, 1),
        None, MatchOperator.GreaterThan, HotThreshold, List(THot)),
      Trigger("cfg", TriggerEventType.ValueChange, TriggerScope.OnInterface(Config, 1),
        None, MatchOperator.Any, null, List(TConfigChange)),
      Trigger("rm", TriggerEventType.PathRemoved, TriggerScope.OnInterface(Config, 1),
        None, MatchOperator.Any, null, List(TConfigRemoved)),
      Trigger("pos", TriggerEventType.IncomingData, TriggerScope.OnInterface(Position, 1),
        None, MatchOperator.Any, null, List(TPosition)),
      Trigger("conn", TriggerEventType.DeviceConnected, TriggerScope.AnyDevice,
        None, MatchOperator.Any, null, List(TConnected)),
      Trigger("disc", TriggerEventType.DeviceDisconnected, TriggerScope.AnyDevice,
        None, MatchOperator.Any, null, List(TDisconnected))))
}

/** Reads what the pipeline stored and published back through the
  * store's and sink's public readers, in the shape of [[Expected]].
  */
object Observed {
  def read(spark: SparkSession, store: AstarteStore, sink: EventSink): Expected = {
    def exists(p: String) = new java.io.File(p).exists()
    val (rows, total) =
      if (!exists(store.datastreamPath)) (0L, 0.0)
      else {
        val r = store.datastreams(spark).agg(
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
          fsum(col("double_value"))).head()
        (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
      }
    val events =
      if (!exists(sink.path)) Map.empty[String, Long]
      else sink.read(spark).groupBy("routing_key").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val props =
      if (!exists(store.properties.path)) Map.empty[(String, String), Double]
      else store.propertyValues(spark, ADouble).collect()
        .map(r => (r.getAs[String]("device_id"), r.getAs[String]("path")) -> r.getAs[Double]("value"))
        .toMap
    val objects = store.objectTable(spark, Registries.position, Registries.positionMappings).count()
    Expected(rows, total, events, props, objects)
  }
}

/** Result of one workload run. `e2e` are the end-to-end metrics,
  * `layers` the per-layer ones (traced runs), `detail` goes to the
  * detail file only.
  */
final case class RunResult(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    layers: Map[String, Double],
    detail: Map[String, Any])

/** The ingest workload: broker → graft-broker source → state machine →
  * store + event sink, driven only through public entry points, in one
  * streaming query and three phases:
  *
  *  1. warm-up: two seconds of the steady mix and one batch of the
  *     drain stream, until committed (the first batches compile and
  *     fill caches);
  *  2. drain: a backlog of datastream-only messages loaded into the
  *     broker at once; the median events per second of its full
  *     batches;
  *  3. steady: an open loop at `steadyRate` msg/s: an unmeasured
  *     lead-in of `LeadSec` (the query settles from the drain's large
  *     batches to small ones), then `seconds` in which every message is
  *     timed from its due time to its ack, then an unmeasured tail of
  *     the same load until every window message is acked.
  *
  * A phase whose messages are not committed within `GraceSec` fails
  * the run with a named error.
  */
final class IngestRun(spark: SparkSession, runDir: String, seed: Long,
    seconds: Int, tracer: Tracer, steadyRate: Double = IngestRun.SteadyRate) {
  import Gen._
  import IngestRun._

  private val host = "127.0.0.1"
  var committedCount = 0L
  var batchCount = 0

  private val steadyGen = new Gen(SteadySpec, seed)
  private val drainGen = new Gen(DrainSpec, seed)
  private val registry = Registries.registry
  private val broker = new MessageBroker(0)
  (1 until Shards).foreach(_ => broker.addShard())
  private val pub = new BrokerClient(host, broker.port)

  // everything published, in publish order
  private val msgs = mutable.ArrayBuffer.empty[Msg]
  private val offsets = mutable.ArrayBuffer.empty[Long]
  private val dues = mutable.ArrayBuffer.empty[Long]
  private val lateNs = mutable.ArrayBuffer.empty[Long]
  private val publishNs = mutable.ArrayBuffer.empty[Long]
  private var drainFrom = 0

  /** The open loop goes through the one TCP publish connection; the
    * drain backlog is loaded with the broker's in-process publish, so
    * filling it never limits the drain.
    */
  private def publish(m: Msg, dueNs: Long, inProcess: Boolean): Unit = {
    val t0 = System.nanoTime()
    val key = m.deviceId.getBytes("UTF-8")
    val off =
      if (inProcess) broker.publish(m.shard, key, Wire.payload(m), Wire.headers(m))
      else pub.publish(m.shard, key, Wire.payload(m), Wire.headers(m))
    val t1 = System.nanoTime()
    msgs += m; offsets += off; dues += dueNs
    lateNs += (t0 - dueNs); publishNs += (t1 - t0)
  }

  /** Per-shard end offsets the query has committed to its checkpoint
    * (the last progress report's source end offset). The broker's ack
    * floor trails this by one batch: the source acks a batch when the
    * next one is planned.
    */
  private def committedEnds(q: StreamingQuery): Seq[Long] = {
    val p = q.lastProgress
    val m: Map[Int, Long] =
      if (p == null || p.sources.isEmpty || p.sources(0).endOffset == null) Map.empty
      else "\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(p.sources(0).endOffset)
        .map(x => x.group(1).toInt -> x.group(2).toLong).toMap
    (0 until Shards).map(s => m.getOrElse(s, 0L))
  }

  /** Waits until the query has committed everything published so far;
    * throws, naming the phase, if it has not within `GraceSec`.
    */
  private def waitCommitted(q: StreamingQuery, phase: String): Unit = {
    val deadline = System.nanoTime() + (GraceSec * 1e9).toLong
    def done = committedEnds(q) == broker.endOffsets
    while (!done && q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
    if (!done)
      throw new IllegalStateException(s"$phase: the query did not commit all published messages " +
        s"within ${GraceSec.toInt} s (committed ${committedEnds(q)}, published ${broker.endOffsets}, " +
        s"active=${q.isActive})")
  }

  /** Open loop: message i is due at start + i / rate; lateness is how
    * far behind its due time the generator sent it. Stops after
    * `durationSec`, or earlier once `until` holds (checked every 50
    * messages). Returns the (start, end) of the schedule in nanoTime.
    */
  private def openLoop(durationSec: Double, scheduleOffsetNs: Long,
      until: () => Boolean = () => false): (Long, Long) = {
    val n = (durationSec * steadyRate).toInt
    val start = System.nanoTime() + 2000000L
    val intervalNs = 1e9 / steadyRate
    var i = 0
    while (i < n && (i % 50 != 0 || !until())) {
      val offset = (i * intervalNs).toLong
      val due = start + offset
      // park rather than spin: a spinning generator would take a core
      // from the program; the wake-up delay is counted as lateness
      var now = System.nanoTime()
      while (now < due) {
        java.util.concurrent.locks.LockSupport.parkNanos(due - now)
        now = System.nanoTime()
      }
      // the generator sees schedule time only, so its choices do not
      // depend on how punctual this run was
      publish(steadyGen.next(scheduleOffsetNs + offset), due, inProcess = false)
      i += 1
    }
    (start, start + (i * intervalNs).toLong)
  }

  def run(jvmStartMs: Long): RunResult = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit = phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    phase("session")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val jobs = new JobCensus
    if (tracer.enabled) Census.register(spark, jobs)
    val monitor = new FloorMonitor(broker)
    val store = new AstarteStore(s"$runDir/store")
    val sink = new EventSink(s"$runDir/events")
    val q = Pipeline.start(
      WireSource.brokerSource(spark, host, broker.port, BatchCap.toLong),
      DeviceStateMachine.StaticRegistryProvider(registry),
      store, sink, s"$runDir/checkpoint")
    val sec = 1000000000L
    try {
      // 1. warm-up: the steady mix, then one batch of the drain stream
      openLoop(WarmSec, 0L)
      drainFrom = msgs.length
      def loadDrain(n: Int): Unit = (0 until n).foreach { _ =>
        publish(drainGen.next(0L), System.nanoTime(), inProcess = true)
      }
      loadDrain(BatchCap)
      waitCommitted(q, "warm-up")
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      phase("warm")

      // 2. drain: the whole backlog loaded at once, `DrainBatches` full
      // batches of BatchCap rows
      val batchesBefore = progress.dataBatches.length
      loadDrain(DrainBatches * BatchCap)
      waitCommitted(q, "drain")
      val drained = progress.dataBatches.drop(batchesBefore)
      phase("drain")

      // 3. steady open loop, then an unmeasured tail of the same load
      // until every window message is acked (a batch is acked when the
      // next one is planned, so the ack needs traffic behind it)
      val loopFrom = msgs.length
      val (loopStartNs, steadyEndNs) = openLoop(LeadSec + seconds, (WarmSec + 10).toLong * sec)
      val steadyStartNs = loopStartNs + (LeadSec * sec).toLong
      val steadyUntil = msgs.length
      val steadyFrom = (loopFrom until steadyUntil).find(dues(_) >= steadyStartNs).getOrElse(steadyUntil)
      val last = (steadyFrom until steadyUntil).groupBy(i => msgs(i).shard)
        .map { case (sh, is) => sh -> is.map(offsets).max }
      openLoop(TailSec, (WarmSec + LeadSec + seconds + 20).toLong * sec,
        () => { val f = broker.baseOffsets; last.forall { case (sh, o) => f(sh) > o } })
      val steadyAcked = System.nanoTime()
      waitCommitted(q, "steady")
      val heapMb = Heap.liveMb()
      phase("steady")
      val ends = committedEnds(q)
      q.stop()
      monitor.close()

      // correctness over exactly the messages the query committed
      val committed = msgs.indices.filter(i => offsets(i) < ends(msgs(i).shard))
      val expected = Expected.of(committed.map(msgs), HotThreshold)
      val observed = tracer.span(0, "check", "check.read")(Observed.read(spark, store, sink))
      val mismatches = Expected.compare(expected, observed)
      phase("checked")

      val (tNs, floors) = monitor.timeline
      val steadyIdx = (steadyFrom until steadyUntil).toArray
      val ackNs = Ack.ackTimes(steadyIdx.map(msgs(_).shard), steadyIdx.map(offsets), tNs, floors)
      val lat = Ack.latenciesMs(steadyIdx.map(dues), ackNs).filterNot(_.isNaN).toSeq
      // every full batch (the source may split the cap a few rows short
      // across shards; a batch planned while the backlog was still
      // loading is partial); the rate is the median of per-batch rates
      val drainMeasured = drained.filter(_.numInputRows >= BatchCap * 99 / 100)
      val drainRate =
        if (drainMeasured.length < MinDrainBatches) Double.NaN
        else Stats.median(drainMeasured.map(p =>
          p.numInputRows / (p.durationMs.getOrDefault("triggerExecution", 0L) / 1000.0)))

      val e2e = Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> drainRate,
        "latency_ms" -> Stats.median(lat),
        "heap_live_mb" -> heapMb)

      // per-batch layer numbers come from the steady phase (small
      // batches, where per-batch costs set latency)
      val steadyBatches = progress.all.collect {
        case (atNs, p) if atNs >= steadyStartNs && atNs <= steadyAcked && p.numInputRows > 0 => p
      }
      committedCount = committed.length.toLong
      batchCount = progress.dataBatches.length
      val layers =
        if (!tracer.enabled) Map.empty[String, Double]
        else Layers.zeros ++ Layers.ingest(spark, this, steadyBatches, drainMeasured, jobs,
          store, sink, publishNs.slice(steadyFrom, steadyUntil).toSeq,
          lateNs.slice(steadyFrom, steadyUntil).toSeq,
          monitor.backlogIn(steadyStartNs, steadyEndNs), tracer) ++
          Layers.ladder(spark, this, runDir, LadderEvents, tracer)

      val detail = Map(
        "workload" -> "ingest",
        "phases_s" -> phases,
        "messages_published" -> msgs.length,
        "messages_committed" -> committed.length,
        "steady_messages" -> steadyIdx.length,
        "latency_samples" -> lat.length,
        // the tail is reported, not bounded: it spreads more than the
        // bound between runs (latencies within one batch move together,
        // so a high percentile reads the few slowest batches)
        "ack_p90_ms" -> Stats.quantile(lat, 0.90),
        "ack_p99_ms" -> Stats.quantile(lat, 0.99),
        "drain_batches" -> drainMeasured.length,
        "drain_batch_ms" -> drained.map(p => p.durationMs.getOrDefault("triggerExecution", 0L)),
        "drain_batch_rows" -> drained.map(_.numInputRows),
        "steady_rate" -> steadyRate,
        // capacity check: the backlog (published - acked) stays flat
        // below the steady mix's capacity and grows above it
        "backlog_mean" -> Stats.mean(monitor.backlogIn(steadyStartNs, steadyEndNs)),
        "backlog_slope_per_s" -> monitor.backlogSlopeIn(steadyStartNs, steadyEndNs),
        "steady_batch_rows_p50" -> Stats.median(steadyBatches.map(_.numInputRows.toDouble)),
        "steady_trigger_ms_p50" -> Stats.median(steadyBatches.map(
          _.durationMs.getOrDefault("triggerExecution", 0L).toDouble)),
        "gen_late_ms_p99" -> Stats.quantile(lateNs.slice(steadyFrom, steadyUntil).map(_ / 1e6).toSeq, 0.99),
        "kinds" -> msgs.groupBy(m => KindNames(m.kind)).map { case (k, v) => k -> v.length },
        "expected" -> expectedJson(expected),
        "observed" -> expectedJson(observed),
        "mismatches" -> mismatches,
        "batches" -> progress.all.map(_._2).map(p => Map(
          "id" -> p.batchId, "rows" -> p.numInputRows,
          "durations" -> Census.durations(p))))
      val correct = mismatches.isEmpty && committed.length == msgs.length &&
        !drainRate.isNaN && lat.length == steadyIdx.length
      RunResult(correct, msgs.length.toLong, (msgs.length - committed.length).toLong, e2e, layers, detail)
    } finally {
      if (q.isActive) q.stop()
      pub.close()
      broker.close()
    }
  }

  private def expectedJson(e: Expected): Map[String, Any] = Map(
    "datastream_rows" -> e.datastreamRows, "datastream_sum" -> e.datastreamSum,
    "events" -> e.eventsByTarget, "properties" -> e.lastProperty.size,
    "object_rows" -> e.objectRows)

  // for the ladder: the first drain messages
  def registryForLadder: Registry = registry
  def publishedSample(n: Int): Seq[(Msg, Long)] =
    (drainFrom until math.min(msgs.length, drainFrom + n)).map(i => msgs(i) -> offsets(i))
}

object IngestRun {
  val BatchCap = 50000
  /** Drain batches loaded; at least `MinDrainBatches` must be full. */
  val DrainBatches = 4
  val MinDrainBatches = 3
  /** Offered rate of the steady open loop, msg/s: a third of the
    * steady mix's measured capacity of ~15k msg/s (the highest offered
    * rate at which the backlog stayed flat; see the benchmark's README).
    */
  val SteadyRate = 5000.0
  val WarmSec = 2.0
  val LeadSec = 2.0
  val GraceSec = 60.0
  val TailSec = 30.0
  val LadderEvents = 20000
}
