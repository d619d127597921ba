package perfbench

import scala.collection.mutable

/** One generated device message, as the benchmark publishes it. The
  * `kind` says what the generator meant it to be; the program only
  * ever sees the headers and payload built from it.
  */
final case class Msg(
    seq: Long,
    kind: Int,
    device: Int,
    shard: Int,
    path: String,
    value: Double) {
  def deviceId: String = Gen.deviceId(device)
}

/** Deterministic message generator: the same (workload, seed) always
  * yields the same message sequence. Payloads are encoded with the
  * benchmark's own minimal BSON writer, and the expected store and
  * sink contents are computed from the sequence alone (see
  * [[Expected]]), never by calling the engine.
  */
object Gen {
  val Realm = "perf"
  val Shards = 4

  val Telemetry = "perf.Telemetry" // datastream, individual
  val Config = "perf.Config"       // properties, individual, unset allowed
  val Position = "perf.Position"   // datastream, object-aggregated

  // message kinds
  final val KTelemetry = 0
  final val KConfigSet = 1
  final val KConfigUnset = 2
  final val KPosition = 3
  final val KEmptyCache = 4
  final val KConnect = 5
  final val KIntrospect = 6
  final val KDisconnect = 7

  val KindNames: Array[String] = Array("telemetry", "config_set", "config_unset",
    "position", "empty_cache", "connection", "introspection", "disconnection")

  // trigger targets (one trigger per target)
  val THot = "perf/telemetry_hot"
  val TConfigChange = "perf/config_change"
  val TConfigRemoved = "perf/config_removed"
  val TPosition = "perf/position"
  val TConnected = "perf/connected"
  val TDisconnected = "perf/disconnected"

  val Introspection = s"$Telemetry:1:0;$Config:1:0;$Position:1:0"

  def deviceId(i: Int): String = f"dev$i%06d"

  /** Values are k/1024 with k < 2^20: exact in a double, so any
    * summation order gives the same sum, and distinct for 2^20
    * consecutive messages (the odd multiplier is a bijection mod 2^20),
    * so no two rows of one device path can collide.
    */
  def value(seq: Long, salt: Int): Double =
    ((seq * 1000003L + salt) & 0xFFFFFL) / 1024.0

  /** Message-stream shape: device population (ids from `deviceBase`),
    * key skew, sensors per device, and whether the full message mix is
    * generated or datastream values only.
    */
  final case class Spec(
      devices: Int,
      deviceBase: Int,
      zipfS: Double,
      sensors: Int,
      mixed: Boolean)

  /** Datastream-only backlog: many Zipf-skewed devices. */
  val DrainSpec = Spec(devices = 5000, deviceBase = 100000, zipfS = 1.1, sensors = 16,
    mixed = false)
  /** The full message mix, on its own devices. */
  val SteadySpec = Spec(devices = 400, deviceBase = 0, zipfS = 0.8, sensors = 8,
    mixed = true)

  /** `IncomingData >` threshold on telemetry values (~uniform on
    * [0, 1024)): about 3% of telemetry messages fire it.
    */
  val HotThreshold = 990.0

  /** Property writes to one (device, key) are spaced at least this far
    * apart in schedule time: the store resolves last-writer-wins on the
    * broker's millisecond timestamp, and a real device does not rewrite
    * one setting twice within a millisecond.
    */
  val PropertyGapNs: Long = 250L * 1000 * 1000
}

/** Infinite deterministic stream of messages for one spec and seed.
  * `next(dueNs)` takes the message's schedule time (used only to space
  * property writes; the drain passes a synthetic clock).
  */
final class Gen(spec: Gen.Spec, seed: Long) {
  import Gen._

  private val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
  private val salt = rng.nextInt(1 << 20)
  private var seq = 0L

  private val cdf: Array[Double] = {
    val w = Array.tabulate(spec.devices)(i => 1.0 / math.pow(i + 1, spec.zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  // device ids are a seeded permutation of the Zipf ranks, so the hot
  // devices differ between seeds
  private val perm: Array[Int] = {
    val p = Array.range(0, spec.devices)
    var i = p.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  // per-device lifecycle for the mixed workload
  private val connected = new Array[Boolean](spec.deviceBase + spec.devices)
  private val introspected = new Array[Boolean](spec.deviceBase + spec.devices)
  private val configSet = mutable.HashSet.empty[(Int, Int)]
  private val lastConfigWrite = mutable.HashMap.empty[(Int, Int), Long]

  private def pickDevice(): Int = {
    val u = rng.nextDouble()
    var lo = 0; var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    spec.deviceBase + perm(lo)
  }

  def shardOf(device: Int): Int = device % Shards

  def next(dueNs: Long): Msg = {
    val s = seq
    seq += 1
    val d = pickDevice()
    val v = value(s, salt)
    def telemetry = Msg(s, KTelemetry, d, shardOf(d),
      s"/s${rng.nextInt(spec.sensors)}/value", v)
    if (!spec.mixed) return telemetry
    if (!connected(d)) {
      connected(d) = true
      return Msg(s, KConnect, d, shardOf(d), null, 0.0)
    }
    if (!introspected(d)) {
      introspected(d) = true
      return Msg(s, KIntrospect, d, shardOf(d), null, 0.0)
    }
    val r = rng.nextInt(100)
    if (r < 55) telemetry
    else if (r < 75) {
      // config set (r < 70) or unset (r >= 70) of one of four keys
      val key = rng.nextInt(4)
      val k = (d, key)
      val spaced = lastConfigWrite.get(k).forall(dueNs - _ >= PropertyGapNs)
      val unset = r >= 70
      if (!spaced || (unset && !configSet.contains(k))) telemetry
      else {
        lastConfigWrite(k) = dueNs
        if (unset) { configSet -= k; Msg(s, KConfigUnset, d, shardOf(d), s"/k$key/setpoint", 0.0) }
        else { configSet += k; Msg(s, KConfigSet, d, shardOf(d), s"/k$key/setpoint", v) }
      }
    }
    else if (r < 90) Msg(s, KPosition, d, shardOf(d), "/", v)
    else if (r < 95) Msg(s, KEmptyCache, d, shardOf(d), "/emptyCache", 0.0)
    else {
      connected(d) = false
      introspected(d) = false
      Msg(s, KDisconnect, d, shardOf(d), null, 0.0)
    }
  }
}

/** Wire form of a message: broker headers + payload. */
object Wire {
  import Gen._

  def payload(m: Msg): Array[Byte] = m.kind match {
    case KTelemetry | KConfigSet => Bson.doc(Seq("v" -> m.value))
    case KPosition => Bson.doc(Seq("v" -> Bson.Doc(Seq("lat" -> m.value, "lon" -> -m.value))))
    case KIntrospect => Introspection.getBytes("UTF-8")
    case _ => Array.emptyByteArray // unset, control, lifecycle
  }

  def headers(m: Msg): Seq[(String, Array[Byte])] = {
    def h(k: String, v: String) = s"x_astarte_$k" -> v.getBytes("UTF-8")
    val base = Seq(h("realm", Realm), h("device_id", m.deviceId))
    m.kind match {
      case KTelemetry => base ++ Seq(h("msg_type", "data"), h("interface", Telemetry), h("path", m.path))
      case KConfigSet | KConfigUnset =>
        base ++ Seq(h("msg_type", "data"), h("interface", Config), h("path", m.path))
      case KPosition => base ++ Seq(h("msg_type", "data"), h("interface", Position), h("path", m.path))
      case KEmptyCache => base ++ Seq(h("msg_type", "control"), h("control_path", m.path))
      case KConnect => base ++ Seq(h("msg_type", "connection"), h("remote_ip", "10.1.0.1"))
      case KIntrospect => base :+ h("msg_type", "introspection")
      case KDisconnect => base :+ h("msg_type", "disconnection")
    }
  }
}

/** Minimal BSON writer for the `{v: ...}` payloads (doubles and one
  * level of sub-document) — the benchmark's own, independent of the
  * engine's codec.
  */
object Bson {
  final case class Doc(fields: Seq[(String, Any)])

  def doc(fields: Seq[(String, Any)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    writeDoc(out, fields)
    out.toByteArray
  }

  private def le32(out: java.io.ByteArrayOutputStream, x: Int): Unit =
    (0 until 4).foreach(i => out.write((x >>> (8 * i)) & 0xFF))

  private def writeDoc(out: java.io.ByteArrayOutputStream, fields: Seq[(String, Any)]): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    fields.foreach { case (k, v) =>
      v match {
        case d: Double =>
          body.write(0x01); body.write(k.getBytes("UTF-8")); body.write(0)
          val bits = java.lang.Double.doubleToLongBits(d)
          (0 until 8).foreach(i => body.write(((bits >>> (8 * i)) & 0xFF).toInt))
        case Doc(fs) =>
          body.write(0x03); body.write(k.getBytes("UTF-8")); body.write(0)
          writeDoc(body, fs)
        case other => throw new IllegalArgumentException(s"unsupported BSON value $other")
      }
    }
    le32(out, body.size + 5)
    body.writeTo(out)
    out.write(0)
  }
}

/** What the store and event sink must hold after the given messages
  * were committed — computed from the messages alone.
  */
final case class Expected(
    datastreamRows: Long,
    datastreamSum: Double,
    eventsByTarget: Map[String, Long],
    lastProperty: Map[(String, String), Double],
    objectRows: Long)

object Expected {
  import Gen._

  def of(msgs: Iterable[Msg], hotThreshold: Double): Expected = {
    var rows = 0L
    var sum = 0.0
    var objects = 0L
    val events = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val props = mutable.HashMap.empty[(String, String), Double]
    msgs.foreach { m =>
      m.kind match {
        case KTelemetry =>
          rows += 1; sum += m.value
          if (m.value > hotThreshold) events(THot) += 1
        case KConfigSet =>
          // every set carries a fresh value, so it is a change (or a
          // creation) and fires value_change
          props((m.deviceId, m.path)) = m.value
          events(TConfigChange) += 1
        case KConfigUnset =>
          props -= ((m.deviceId, m.path))
          events(TConfigRemoved) += 1
        case KPosition =>
          objects += 1
          events(TPosition) += 1
        case KConnect => events(TConnected) += 1
        case KDisconnect => events(TDisconnected) += 1
        case _ => ()
      }
    }
    Expected(rows, sum, events.toMap, props.toMap, objects)
  }

  /** Mismatches between what was expected and what was read back;
    * empty when they agree. Sums compare after rounding to 1e-3.
    */
  def compare(e: Expected, o: Expected): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (e.datastreamRows != o.datastreamRows)
      out += s"datastream rows: expected ${e.datastreamRows}, stored ${o.datastreamRows}"
    def r(x: Double) = math.round(x * 1000)
    if (r(e.datastreamSum) != r(o.datastreamSum))
      out += s"datastream value sum: expected ${e.datastreamSum}, stored ${o.datastreamSum}"
    (e.eventsByTarget.keySet ++ o.eventsByTarget.keySet).toSeq.sorted.foreach { t =>
      val (a, b) = (e.eventsByTarget.getOrElse(t, 0L), o.eventsByTarget.getOrElse(t, 0L))
      if (a != b) out += s"events to $t: expected $a, published $b"
    }
    if (e.lastProperty != o.lastProperty) {
      val diff = (e.lastProperty.keySet ++ o.lastProperty.keySet)
        .filter(k => e.lastProperty.get(k) != o.lastProperty.get(k))
      out += s"last property values: ${diff.size} of ${e.lastProperty.size} (device, path) differ, " +
        s"e.g. ${diff.take(3).map(k => s"$k ${e.lastProperty.get(k)} vs ${o.lastProperty.get(k)}").mkString("; ")}"
    }
    if (e.objectRows != o.objectRows)
      out += s"object rows: expected ${e.objectRows}, stored ${o.objectRows}"
    out.result()
  }
}
