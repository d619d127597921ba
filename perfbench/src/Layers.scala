package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.events.EventSink
import graft.storage.AstarteStore
import graft.streaming._

/** Per-layer metrics. Every workload reports every name (0 where a
  * layer is not exercised), so traced results line up across workloads.
  */
object Layers {
  val IngestNames: Seq[String] = Seq(
    "sources.publish_us_p50", "sources.gen_late_ms", "sources.backlog_max",
    "sources.backlog_mean", "sources.latest_offset_ms", "sources.get_batch_ms",
    "sources.read_per_input_row",
    "streaming.batches", "streaming.batch_rows_p50", "streaming.trigger_ms_p50",
    "streaming.trigger_ms_p99", "streaming.drain_trigger_ms_p50",
    "streaming.drain_jobs_per_batch", "streaming.planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.unattributed_ms", "streaming.add_batch_other_ms",
    "streaming.jobs_per_batch", "streaming.stages_per_batch", "streaming.tasks_per_batch",
    "streaming.task_ms_per_batch", "streaming.probe_actions_per_batch",
    "streaming.probe_ms_per_batch",
    "streaming.state_rows_total", "streaming.state_update_ms", "streaming.state_commit_ms",
    "streaming.state_bytes", "streaming.fold_runs_per_batch",
    "streaming.decode_us_per_event", "streaming.fold_us_per_event",
    "storage.write_ms_per_batch", "storage.writes_per_batch", "storage.files_per_batch",
    "storage.bytes_per_event", "storage.apply_us_per_event",
    "events.write_ms_per_batch", "events.published", "events.bytes_per_event",
    "events.publish_us_per_event")

  val QueryFamilyNames: Seq[String] =
    Panel.Families.keys.toSeq.sorted.flatMap(f =>
      Seq("jobs", "tasks", "task_ms", "wall_ms").map(k => s"queries.$f.$k"))
  def queryNames: Seq[String] =
    QueryFamilyNames ++ Panel.Queries.map(q => s"queries.${q._1}.wall_ms")

  def all: Seq[String] = IngestNames ++ queryNames :+ "trace.overhead_ratio"

  def zeros: Map[String, Double] = all.map(_ -> 0.0).toMap

  private def dirStats(path: String): (Long, Long) = {
    val f = new java.io.File(path)
    if (!f.exists()) return (0L, 0L)
    val files = java.nio.file.Files.walk(f.toPath).filter(p =>
      java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    (files.length.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
  }

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def ingest(spark: SparkSession, run: IngestRun, batches: Seq[StreamingQueryProgress],
      drainBatches: Seq[StreamingQueryProgress], jobs: JobCensus, store: AstarteStore, sink: EventSink,
      publishNs: Seq[Long], lateNs: Seq[Long], backlog: Seq[Double],
      tracer: Tracer): Map[String, Double] = {
    val n = math.max(1, batches.length).toDouble
    def dur(k: String) = batches.map(p => p.durationMs.getOrDefault(k, 0L).toDouble)
    def perBatch(k: String) = dur(k).sum / n

    // one span per micro-batch, one child per phase and per action
    val groups = jobs.groups
    val windows = batches.map(p => (p, startMs(p), startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L)))
    val ids = batches.map(_.batchId).toSet
    val acts = jobs.batchActions.filter(x => ids.contains(x._1))
    windows.foreach { case (p, s, e) =>
      val g = s"batch:${p.batchId}"
      val id = tracer.record(0, g, "streaming.micro_batch", s.toDouble, e.toDouble,
        Map("rows" -> p.numInputRows))
      var t = s.toDouble
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach { k =>
          val d = p.durationMs.getOrDefault(k, 0L).toDouble
          tracer.record(id, g, s"streaming.$k", t, t + d); t += d
        }
      acts.filter(_._1 == p.batchId).foreach { case (_, a) =>
        tracer.record(id, g, s"action.${layerOf(a, store, sink)}", a.startMs.toDouble,
          a.endMs.toDouble, Map("execution" -> a.id, "output" -> a.output.getOrElse("")))
      }
    }
    def actMs(layer: String) = acts.filter(x => layerOf(x._2, store, sink) == layer).map(_._2.ms).sum
    def actN(layer: String) = acts.count(x => layerOf(x._2, store, sink) == layer).toDouble
    def census(p: StreamingQueryProgress) = groups.getOrElse(s"batch:${p.batchId}", (0L, 0L, 0L, 0L, 0L))
    val batchGroups = batches.map(census)
    // source reads per input row over all measured batches (drain included)
    val readBatches = batches ++ drainBatches
    val inputRows = readBatches.map(_.numInputRows).sum.toDouble
    val state = batches.flatMap(_.stateOperators.headOption)
    val storeStats = dirStats(store.root)
    val eventStats = dirStats(sink.path)
    val published = if (new java.io.File(sink.path).exists()) sink.read(spark).count().toDouble else 0.0
    val allRows = run.committedCount.max(1L).toDouble
    val trig = dur("triggerExecution")
    val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

    val m = Map(
      "sources.publish_us_p50" -> Stats.median(publishNs.map(_ / 1e3)),
      "sources.gen_late_ms" -> (if (lateNs.isEmpty) 0.0 else Stats.quantile(lateNs.map(_ / 1e6), 0.99)),
      "sources.backlog_max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "sources.backlog_mean" -> (if (backlog.isEmpty) 0.0 else Stats.mean(backlog)),
      "sources.latest_offset_ms" -> perBatch("latestOffset"),
      "sources.get_batch_ms" -> perBatch("getBatch"),
      "sources.read_per_input_row" -> readBatches.map(census(_)._5).sum / math.max(1.0, inputRows),
      "streaming.batches" -> batches.length.toDouble,
      "streaming.batch_rows_p50" -> Stats.median(batches.map(_.numInputRows.toDouble)),
      "streaming.trigger_ms_p50" -> Stats.median(trig),
      "streaming.trigger_ms_p99" -> Stats.quantile(trig, 0.99),
      "streaming.drain_trigger_ms_p50" -> Stats.median(drainBatches.map(p =>
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble)),
      "streaming.drain_jobs_per_batch" ->
        drainBatches.map(census(_)._1).sum / math.max(1, drainBatches.length).toDouble,
      "streaming.planning_ms" -> perBatch("queryPlanning"),
      "streaming.add_batch_ms" -> perBatch("addBatch"),
      "streaming.wal_commit_ms" -> perBatch("walCommit"),
      "streaming.commit_offsets_ms" -> perBatch("commitOffsets"),
      "streaming.unattributed_ms" -> (trig.sum - phases.map(dur(_).sum).sum) / n,
      "streaming.add_batch_other_ms" ->
        (dur("addBatch").sum - actMs("storage") - actMs("events") - actMs("probe")) / n,
      "streaming.jobs_per_batch" -> batchGroups.map(_._1).sum / n,
      "streaming.stages_per_batch" -> batchGroups.map(_._2).sum / n,
      "streaming.tasks_per_batch" -> batchGroups.map(_._3).sum / n,
      "streaming.task_ms_per_batch" -> batchGroups.map(_._4).sum / n,
      "streaming.probe_actions_per_batch" -> actN("probe") / n,
      "streaming.probe_ms_per_batch" -> actMs("probe") / n,
      "streaming.state_rows_total" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_update_ms" -> state.map(_.allUpdatesTimeMs.toDouble).sum / n,
      "streaming.state_commit_ms" -> state.map(_.commitTimeMs.toDouble).sum / n,
      "streaming.state_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.fold_runs_per_batch" -> (if (state.isEmpty) 0.0 else
        state.map(s => s.numStateStoreInstances.toDouble / math.max(1L, s.numShufflePartitions)).sum / state.length),
      "storage.write_ms_per_batch" -> actMs("storage") / n,
      "storage.writes_per_batch" -> actN("storage") / n,
      "storage.files_per_batch" -> storeStats._1 / math.max(1.0, run.batchCount.toDouble),
      "storage.bytes_per_event" -> storeStats._2 / allRows,
      "events.write_ms_per_batch" -> actMs("events") / n,
      "events.published" -> published,
      "events.bytes_per_event" -> (if (published > 0) eventStats._2 / published else 0.0))
    m
  }

  private def layerOf(a: Exec, store: AstarteStore, sink: EventSink): String = a.output match {
    case Some(p) if under(p, store.root) => "storage"
    case Some(p) if under(p, sink.path) => "events"
    case Some(_) => "other_write"
    case None => "probe"
  }

  private def under(p: String, root: String): Boolean = {
    val norm = (s: String) => s.stripPrefix("file:").replaceAll("/+", "/").stripSuffix("/")
    val a = norm(p); val b = norm(new java.io.File(root).getAbsolutePath)
    a == b || a.startsWith(b + "/") || a.startsWith(norm(root) + "/") || a.startsWith(b + "_")
  }

  /** Batch ladder: public calls timed one layer at a time on the same
    * generated records, each step's input materialized first.
    */
  def ladder(spark: SparkSession, run: IngestRun, runDir: String, n: Int,
      tracer: Tracer): Map[String, Double] = {
    import spark.implicits._
    val sample = run.publishedSample(n)
    val ts = new java.sql.Timestamp(System.currentTimeMillis())
    val records = sample.map { case (m, off) =>
      WireRecord(m.deviceId.getBytes("UTF-8"), Wire.payload(m), "graft-broker", m.shard, off,
        new java.sql.Timestamp(ts.getTime + m.seq), 0,
        Wire.headers(m).map { case (k, v) => WireHeader(k, v) }.toArray)
    }
    val raw = spark.createDataset(records).toDF().cache()
    raw.count()
    val registry = run.registryForLadder
    val reps = 3
    def timed[A <: Dataset[_]](name: String)(mk: => A): (Double, A) = {
      val times = (1 to reps).map { r =>
        val s = tracer.nowMs
        val d = mk
        d.cache().count()
        val e = tracer.nowMs
        tracer.record(0, "ladder", name, s, e, Map("rep" -> r, "events" -> n))
        if (r < reps) d.unpersist(true)
        (e - s, d)
      }
      (Stats.median(times.map(_._1)) * 1000.0 / n, times.last._2)
    }
    val (decodeUs, env) = timed("ladder.decode")(WireSource.decodeEnvelopes(raw))
    val (foldUs, fx) = timed("ladder.fold")(DeviceStateMachine.processBatch(env, registry))
    def writeStep(name: String)(body: Int => Unit): Double = {
      val times = (1 to reps).map { r =>
        val s = tracer.nowMs
        body(r)
        val e = tracer.nowMs
        tracer.record(0, "ladder", name, s, e, Map("rep" -> r, "events" -> n))
        e - s
      }
      Stats.median(times) * 1000.0 / n
    }
    val applyUs = writeStep("ladder.apply") { r =>
      new AstarteStore(s"$runDir/ladder/store$r").applyEffects(fx, registry)
    }
    val publishUs = writeStep("ladder.publish") { r =>
      new EventSink(s"$runDir/ladder/events$r").publish(fx)
    }
    Map(
      "streaming.decode_us_per_event" -> decodeUs,
      "streaming.fold_us_per_event" -> foldUs,
      "storage.apply_us_per_event" -> applyUs,
      "events.publish_us_per_event" -> publishUs)
  }
}
