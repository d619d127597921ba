package perfbench

import graft.events.EventSink
import graft.sources.{BrokerClient, MessageBroker}
import graft.storage.AstarteStore
import graft.streaming.{DeviceStateMachine, Pipeline, WireSource}

/** The benchmark's own tests. Returns the process exit code. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => e.printStackTrace(); false }
    println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def run(runDir: String): Int = {
    generatorIsDeterministic()
    ackLatencyOnSyntheticTimeline()
    correctnessCheckCanFail(runDir)
    println(s"[selftest] failures=$failures")
    if (failures == 0) 0 else 1
  }

  private def stream(spec: Gen.Spec, seed: Long, n: Int): Seq[(Msg, Seq[String], String)] = {
    val g = new Gen(spec, seed)
    (0 until n).map { i =>
      val m = g.next(i * 1000000L)
      (m, Wire.headers(m).map { case (k, v) => k + "=" + new String(v, "UTF-8") },
        Wire.payload(m).map(b => f"$b%02x").mkString)
    }
  }

  def generatorIsDeterministic(): Unit = {
    for (spec <- Seq(Gen.DrainSpec, Gen.SteadySpec)) {
      check(s"generator: same seed, same messages (mixed=${spec.mixed})") {
        stream(spec, 7, 5000) == stream(spec, 7, 5000)
      }
      check(s"generator: another seed, other messages (mixed=${spec.mixed})") {
        stream(spec, 7, 5000).map(_._1.device) != stream(spec, 8, 5000).map(_._1.device)
      }
    }
    check("generator: steady mix covers every message kind") {
      stream(Gen.SteadySpec, 3, 20000).map(_._1.kind).toSet == (0 to 7).toSet
    }
    check("generator: property writes to one (device, path) are spaced") {
      val g = new Gen(Gen.SteadySpec, 5)
      val ms = (0 until 50000).map(i => (g.next(i * 200000L), i * 200000L))
      ms.filter(m => m._1.kind == Gen.KConfigSet || m._1.kind == Gen.KConfigUnset)
        .groupBy(m => (m._1.device, m._1.path)).values
        .forall(w => w.map(_._2).sorted.sliding(2).forall(p => p.length < 2 || p(1) - p(0) >= Gen.PropertyGapNs))
    }
  }

  def ackLatencyOnSyntheticTimeline(): Unit = {
    // two shards; floors advance at t = 10, 20, 35 ms
    val ms = 1000000L
    val tNs = Array(0L, 10 * ms, 20 * ms, 35 * ms)
    val floors = Array(Array(0L, 0L), Array(2L, 0L), Array(2L, 3L), Array(5L, 3L))
    val shard = Array(0, 0, 0, 1, 1, 0)
    val offset = Array(0L, 1L, 2L, 0L, 2L, 5L)
    val due = Array(1 * ms, 2 * ms, 3 * ms, 4 * ms, 5 * ms, 6 * ms)
    val ack = Ack.ackTimes(shard, offset, tNs, floors)
    check("ack: first floor above the offset gives the ack time") {
      ack.toSeq == Seq(10 * ms, 10 * ms, 35 * ms, 20 * ms, 20 * ms, Long.MaxValue)
    }
    val lat = Ack.latenciesMs(due, ack)
    check("ack: latency runs from the scheduled send, unacked is NaN") {
      lat.take(5).toSeq == Seq(9.0, 8.0, 32.0, 16.0, 15.0) && lat(5).isNaN
    }
    check("ack: quantiles interpolate") {
      Stats.median(Seq(9.0, 8.0, 32.0, 16.0, 15.0)) == 15.0 &&
        Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.99) == 4.96
    }
  }

  /** A small real ingest through broker, source, state machine, store
    * and sink: the check passes on the real output and fails once an
    * expectation is tampered with.
    */
  def correctnessCheckCanFail(runDir: String): Unit = {
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val spec = Gen.SteadySpec.copy(devices = 20)
    val drainSpec = Gen.DrainSpec.copy(devices = 50)
    val broker = new MessageBroker(0)
    (1 until Gen.Shards).foreach(_ => broker.addShard())
    val pub = new BrokerClient("127.0.0.1", broker.port)
    try {
      val g = new Gen(spec, 11)
      val d = new Gen(drainSpec, 11)
      // published in real time on the generator's schedule (one message
      // per 2 ms): the broker stamps receptions in milliseconds, and the
      // generator spaces writes to one property by schedule time
      val t0 = System.nanoTime()
      val step = 2000000L
      val msgs = (0 until 600).map(i => g.next(i * step)) ++ (0 until 400).map(i => d.next(i))
      msgs.zipWithIndex.foreach { case (m, i) =>
        val wait = t0 + i * step - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        pub.publish(m.shard, m.deviceId.getBytes("UTF-8"), Wire.payload(m), Wire.headers(m))
      }
      val store = new AstarteStore(s"$runDir/selftest/store")
      val sink = new EventSink(s"$runDir/selftest/events")
      val q = Pipeline.start(WireSource.brokerSource(spark, "127.0.0.1", broker.port),
        DeviceStateMachine.StaticRegistryProvider(Registries.registry),
        store, sink, s"$runDir/selftest/checkpoint")
      try q.processAllAvailable() finally q.stop()
      val expected = Expected.of(msgs, Gen.HotThreshold)
      val observed = Observed.read(spark, store, sink)
      check("check: real pipeline output matches the generator's expectation") {
        val d = Expected.compare(expected, observed)
        if (d.nonEmpty) println(d.mkString("\n"))
        d.isEmpty && expected.lastProperty.nonEmpty && expected.objectRows > 0 &&
          expected.eventsByTarget.size == 6
      }
      val anyProp = expected.lastProperty.head._1
      val tampered = Seq(
        expected.copy(datastreamRows = expected.datastreamRows + 1),
        expected.copy(datastreamSum = expected.datastreamSum + 0.5),
        expected.copy(eventsByTarget = expected.eventsByTarget.updated(Gen.THot,
          expected.eventsByTarget.getOrElse(Gen.THot, 0L) + 1)),
        expected.copy(lastProperty = expected.lastProperty.updated(anyProp,
          expected.lastProperty(anyProp) + 1.0)),
        expected.copy(lastProperty = expected.lastProperty - anyProp),
        expected.copy(objectRows = expected.objectRows - 1))
      tampered.zipWithIndex.foreach { case (t, i) =>
        check(s"check: tampered expectation #$i is rejected") {
          Expected.compare(t, observed).nonEmpty
        }
      }
    } finally {
      pub.close()
      broker.close()
      spark.stop()
    }
  }
}
