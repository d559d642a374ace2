package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.core.DailyKpiJob
import graft.schema.TripSchemas
import graft.sink.TripTableSink
import graft.streaming.TripStreamJob

/** What the harness reads back from one micro-batch's progress event. */
final case class Batch(
    id: Long,
    startMs: Long,
    endMs: Long,
    phases: Map[String, Long],
    inputRows: Long,
    stateCommitMs: Long,
    stateUpdateMs: Long,
    stateRemovalMs: Long,
    stateRowsRemoved: Long,
    stateRows: Long,
    stateBytes: Long)

/** Helpers shared by the two trip-pipeline workloads. */
object TripPipeline {
  /** Column the append-delta trip table stamps each epoch's rows with. */
  val EpochCol = "__graft_seq"

  def session(o: Opts)(): SparkSession = {
    val s = GraftSession.local(o.cores, "graftbench-trips")
    // keep every batch's progress: latency needs each batch's commit time
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    s
  }

  def lines(spark: SparkSession, dir: File, maxFiles: Option[Int]): DataFrame = {
    val r = spark.readStream
    maxFiles.foreach(n => r.option("maxFilesPerTrigger", n.toLong))
    r.text(dir.getPath)
  }

  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq
      .filter(_.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).values.map(_.last).toSeq
      .sortBy(_.batchId)
      .map { p =>
        val phases = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
          .map { case (k, v) => k -> v.longValue }.toMap
        val start = Instant.parse(p.timestamp).toEpochMilli
        val so = p.stateOperators.toSeq
        Batch(p.batchId, start, start + phases.getOrElse("triggerExecution", 0L), phases,
          p.numInputRows,
          so.map(_.commitTimeMs).sum, so.map(_.allUpdatesTimeMs).sum,
          so.map(_.allRemovalsTimeMs).sum, so.map(_.numRowsRemoved).sum,
          so.map(_.numRowsTotal).sum, so.map(_.memoryUsedBytes).sum)
      }

  /** Time-ordered slices of a pre-written feed: slice k holds the starts
    * whose pickup and the ends whose dropoff fall in the k-th share of
    * the feed's event time (a redelivery rides with its original). File
    * mtimes follow slice order, so with one file per trigger on each
    * side both sources admit slice k in the same micro-batch.
    */
  def writeSlices(events: Seq[FeedEvent], dir: File, slices: Int): (File, File) = {
    val starts = new File(dir, "starts")
    val ends = new File(dir, "ends")
    Harness.rmrf(dir)
    starts.mkdirs(); ends.mkdirs()
    val times = events.map(e => if (e.isStart) e.trip.pickupMs else e.trip.dropoffMs)
    val (lo, hi) = (times.min, times.max + 1)
    def slice(e: FeedEvent) = {
      val t = if (e.isStart) e.trip.pickupMs else e.trip.dropoffMs
      ((t - lo) * slices / (hi - lo)).toInt
    }
    val bySlice = events.groupBy(e => (slice(e), e.isStart))
    val stamp0 = System.currentTimeMillis() - slices * 10000L
    for (k <- 0 until slices; (side, isStart) <- Seq((starts, true), (ends, false))) {
      val f = new File(side, f"part-$k%05d.json")
      TripFeed.writeLines(f, bySlice.getOrElse((k, isStart), Nil).iterator
        .map(e => TripFeed.line(e, if (e.isStart) e.trip.pickupMs else e.trip.dropoffMs)))
      f.setLastModified(stamp0 + k * 10000L)
    }
    (starts, ends)
  }

  /** Replay a sliced feed through the job with its defaults under
    * `Trigger.AvailableNow`, one slice per micro-batch.
    */
  def replay(spark: SparkSession, feed: (File, File), table: File, ckpt: File): StreamingQuery = {
    val q = TripStreamJob.start(spark,
      startLines = lines(spark, feed._1, Some(1)),
      endLines = lines(spark, feed._2, Some(1)),
      tablePath = table.getPath,
      checkpointDir = ckpt.getPath,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    q
  }

  /** Per trip: the first epoch that wrote a row for it and the first
    * epoch that wrote it Completed, read from the raw append-delta table.
    */
  def visibility(spark: SparkSession, table: File): Map[String, (Long, Option[Long])] =
    spark.read.parquet(table.getPath)
      .groupBy("trip_id")
      .agg(min(col(EpochCol)).as("first"),
        min(when(col("status") === TripSchemas.StatusCompleted, col(EpochCol))).as("done"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap

  /** Latency samples: for each first delivery of a start and of a
    * telemetry-complete end, its due time and the commit time of the
    * batch that made its row readable minus that due time. Events that
    * never became readable fail the check.
    */
  def latencies(ctx: Ctx, delivered: Seq[FeedEvent], dueEpoch: FeedEvent => Long,
      vis: Map[String, (Long, Option[Long])], commitMs: Map[Long, Long]): Seq[(Long, Double)] = {
    var missing = 0L
    val samples = delivered.iterator.filter(e => !e.dup && e.trip.hasStart && (e.isStart || e.trip.end == 1))
      .flatMap { e =>
        val epoch = vis.get(e.trip.id).flatMap { case (first, done) => if (e.isStart) Some(first) else done }
        val at = epoch.flatMap(commitMs.get)
        if (at.isEmpty) missing += 1
        at.map(c => (dueEpoch(e), (c - dueEpoch(e)).toDouble))
      }.toVector
    ctx.out.check("every start and complete end became readable", missing == 0, s"missing=$missing")
    samples
  }

  def reportLatency(ctx: Ctx, samples: Seq[Double]): Unit = {
    ctx.out.e2e("latency_p50_ms") = (Stats.quantile(samples, 0.5), "ms")
    ctx.out.e2e("latency_p90_ms") = (Stats.quantile(samples, 0.9), "ms")
    ctx.out.e2e("latency_geomean_ms") = (Stats.geomean(samples), "ms")
  }

  def checkTable(ctx: Ctx, spark: SparkSession, table: File, delivered: Seq[FeedEvent],
      exp: TripFeed.Expected, vis: Map[String, (Long, Option[Long])]): Long = {
    val completed = TripTableSink.readMerged(spark, table.getPath)
      .where(col("status") === TripSchemas.StatusCompleted).count()
    ctx.out.check("completed trips", completed == exp.completed, s"got=$completed want=${exp.completed}")
    val dropped = delivered.count(e => !e.isStart && !vis.contains(e.trip.id)).toLong
    ctx.out.check("dropped ends", dropped == exp.droppedEnds, s"got=$dropped want=${exp.droppedEnds}")
    dropped
  }

  /** Run the nightly job for every day in the table, `KpiPasses` times
    * over (each pass rewrites the same documents). Returns the median
    * pass time and every per-day time, in ms.
    */
  def kpis(ctx: Ctx, spark: SparkSession, table: File, outDir: File): (Double, Seq[Double]) = {
    val days = Option(table.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("date=")).map(_.stripPrefix("date=")).sorted
    val passes = (1 to KpiPasses).map { _ =>
      days.map { day =>
        Probe.tag(spark.sparkContext, s"kpi:$day")
        val t0 = Clock.nowMs
        ctx.tracer.span("kpi_day", day)(DailyKpiJob.run(spark, table.getPath, outDir.getPath, Some(day)))
        Clock.nowMs - t0
      }
    }
    (Stats.median(passes.map(_.sum)), passes.flatten)
  }

  val KpiPasses = 3

  private val FieldRe = "\"(total_fare|count_trips|average_fare|max_fare|min_fare)\":(-?[0-9.eE+]+)".r

  /** Every KPI document must equal the reference computed from the
    * feed: counts exactly, sums, averages and extremes to 1e-9 relative.
    */
  def checkKpis(ctx: Ctx, outDir: File, exp: TripFeed.Expected): Unit = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val docs = walk(outDir).filter(_.getName.endsWith(".json"))
      .map(f => f.getName.stripSuffix(".json") -> new String(Files.readAllBytes(f.toPath), "UTF-8")).toMap
    ctx.out.check("KPI days", docs.keySet == exp.kpis.keySet,
      s"got=${docs.keySet.toSeq.sorted} want=${exp.kpis.keySet.toSeq.sorted}")
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    for ((day, ref) <- exp.kpis; doc <- docs.get(day)) {
      val got = FieldRe.findAllMatchIn(doc).map(m => m.group(1) -> m.group(2).toDouble).toMap
      val sum = BigDecimal(ref.sumCents, 2)
      val ok = got.get("count_trips").contains(ref.count.toDouble) &&
        got.get("total_fare").exists(close(_, sum.toDouble)) &&
        got.get("average_fare").exists(close(_, (sum / BigDecimal(ref.count)).toDouble)) &&
        got.get("max_fare").exists(close(_, ref.maxCents / 100.0)) &&
        got.get("min_fare").exists(close(_, ref.minCents / 100.0))
      ctx.out.check(s"KPI document $day", ok, s"got=$got want=$ref")
    }
  }

  private def ph(b: Batch, k: String) = b.phases.getOrElse(k, 0L).toDouble

  private def p50(bs: Seq[Batch])(f: Batch => Double) = if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))

  /** Lay each batch and its progress phases out as spans, in the order
    * the micro-batch loop runs them.
    */
  def batchSpans(ctx: Ctx, bs: Seq[Batch]): Unit = {
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    bs.foreach { b =>
      ctx.tracer.add(Span("batch", s"batch#${b.id}", b.startMs.toDouble, b.endMs.toDouble))
      order.foldLeft(b.startMs.toDouble) { (at, k) =>
        val d = ph(b, k)
        if (d > 0) ctx.tracer.add(Span("batch_phase", k, at, at + d))
        at + d
      }
    }
  }

  /** Layers the steady phase's latency depends on: the per-batch loop,
    * state commit and eviction, from progress events and the jobs the
    * query ran (tag `steady`).
    */
  def steadyLayers(ctx: Ctx, bs: Seq[Batch], windowMs: Double, lagMax: Double): Unit = {
    val out = ctx.out
    val n = bs.size.toDouble
    out.layer("streaming.batches", n, "count")
    out.layer("streaming.trigger_ms_p50", p50(bs)(ph(_, "triggerExecution")), "ms")
    out.layer("streaming.offsets_ms",
      p50(bs)(b => ph(b, "latestOffset") + ph(b, "walCommit") + ph(b, "commitOffsets")), "ms")
    out.layer("streaming.planning_ms", p50(bs)(b => ph(b, "queryPlanning") + ph(b, "getBatch")), "ms")
    out.layer("streaming.idle_ms", math.max(0.0, windowMs - bs.map(ph(_, "triggerExecution")).sum), "ms")
    val t = ctx.probe.map(_.get("steady"))
    out.layer("streaming.jobs", t.map(_.jobs / math.max(n, 1.0)).getOrElse(0.0), "count/batch")
    out.layer("streaming.tasks", t.map(_.tasks / math.max(n, 1.0)).getOrElse(0.0), "count/batch")
    out.layer("ingest.lag_events_max", lagMax, "count")
    out.layer("core.state_commit_ms", bs.map(_.stateCommitMs).sum.toDouble, "ms")
    out.layer("core.state_removal_ms", bs.map(_.stateRemovalMs).sum.toDouble, "ms")
    out.layer("core.state_rows_removed", bs.map(_.stateRowsRemoved).sum.toDouble, "count")
  }

  /** Layers the backlog phase's throughput and the KPI job depend on:
    * batch execution and state growth from progress events and the jobs
    * the replay ran (tag `backlog`); the table as listed on disk after
    * the replay; what the nightly job read from it (tag `kpi`).
    */
  def backlogLayers(ctx: Ctx, spark: SparkSession, bs: Seq[Batch], table: File, kpiDayMs: Seq[Double]): Unit = {
    val out = ctx.out
    out.layer("streaming.add_batch_ms", p50(bs)(ph(_, "addBatch")), "ms")
    out.layer("streaming.task_ms", ctx.probe.map(_.get("backlog").taskMs.toDouble).getOrElse(0.0), "ms")
    out.layer("core.state_update_ms", bs.map(_.stateUpdateMs).sum.toDouble, "ms")
    out.layer("core.state_rows_peak", bs.map(_.stateRows).maxOption.getOrElse(0L).toDouble, "count")
    out.layer("core.state_bytes_peak", bs.map(_.stateBytes).maxOption.getOrElse(0L).toDouble, "bytes")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val parts = walk(table).filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    Probe.tag(spark.sparkContext, "verify")
    val stats = spark.read.parquet(table.getPath)
      .agg(count(lit(1)), countDistinct(col("trip_id")), countDistinct(col(EpochCol))).head()
    val (rows, trips, epochs) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    out.layer("sink.files", parts.size.toDouble, "count")
    out.layer("sink.bytes", parts.map(_.length).sum.toDouble, "bytes")
    out.layer("sink.epochs", epochs.toDouble, "count")
    out.layer("sink.rows_per_trip", rows.toDouble / math.max(trips, 1L), "ratio")
    val k = ctx.probe.map(_.get("kpi"))
    out.layer("core.kpi_day_ms_p50", if (kpiDayMs.isEmpty) 0.0 else Stats.median(kpiDayMs), "ms")
    out.layer("core.kpi_jobs", k.map(_.jobs.toDouble / KpiPasses).getOrElse(0.0), "count")
    val read = k.map(_.recordsRead.toDouble / KpiPasses).getOrElse(0.0)
    out.layer("core.kpi_rows_read", read, "count")
    out.layer("core.kpi_merge_ratio", read / math.max(trips, 1L), "ratio")
  }

  /** A small sliced feed replayed (and its KPIs run) during set-up with
    * the steady phase's timeout and watermark, so the timed streams start
    * with the decode, state, eviction and sink code paths compiled.
    */
  def warmFeed(seed: Long): Seq[FeedEvent] = {
    val from = LocalDate.parse(WarmDay).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    TripFeed.events(TripFeed.trips(seed ^ 0x5eed, 1000, from, 3600000L, 300000L, 1200000L, 1000L), identity)
  }

  private val WarmDay = "2024-04-01"

  def warmup(ctx: Ctx, spark: SparkSession, feed: (File, File)): Unit = {
    Probe.tag(spark.sparkContext, "setup")
    val run = ctx.dir("warmup-run")
    Harness.rmrf(run)
    TripStreamJob.start(spark,
      startLines = lines(spark, feed._1, Some(1)),
      endLines = lines(spark, feed._2, Some(1)),
      tablePath = new File(run, "table").getPath,
      checkpointDir = new File(run, "ckpt").getPath,
      trigger = Trigger.AvailableNow(),
      timeoutMs = TripWorkload.TimeoutMs,
      watermarkDelay = TripWorkload.WatermarkDelay).awaitTermination()
    DailyKpiJob.run(spark, new File(run, "table").getPath, new File(run, "kpi").getPath, Some(WarmDay))
    Harness.rmrf(run)
  }
}

/** Open-loop producer: writes the start and end lines that fall due in
  * each tick as one file per stream, on the wall-clock schedule, no
  * matter how far the query is behind. Files are written aside and
  * moved in, so the source never lists a partial file.
  */
final class Generator(events: Vector[FeedEvent], starts: File, ends: File, staging: File,
    t0: Long, tickMs: Long) extends Thread("graftbench-generator") {
  @volatile var lateMaxMs = 0.0
  @volatile var error: Option[Throwable] = None
  setDaemon(true)

  override def run(): Unit =
    try {
      var i = 0
      var tick = 1L
      while (i < events.size) {
        val wake = t0 + tick * tickMs
        val wait = wake - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val from = i
        while (i < events.size && events(i).dueMs < tick * tickMs) i += 1
        val due = events.slice(from, i)
        for ((dir, isStart) <- Seq((starts, true), (ends, false))) {
          val ls = due.filter(_.isStart == isStart)
          if (ls.nonEmpty) {
            val tmp = new File(staging, f"tick-$tick%06d-$isStart.json")
            TripFeed.writeLines(tmp, ls.iterator.map(e => TripFeed.line(e, t0 + e.dueMs)))
            Files.move(tmp.toPath, new File(dir, f"part-$tick%06d.json").toPath,
              StandardCopyOption.ATOMIC_MOVE)
          }
        }
        lateMaxMs = math.max(lateMaxMs, (System.currentTimeMillis() - wake).toDouble)
        tick += 1
      }
    } catch { case t: Throwable => error = Some(t) }
}

/** `trip_pipeline`: the trip pipeline's two regimes in one session.
  *
  * Backlog phase: a pre-written multi-day feed replayed under
  * `Trigger.AvailableNow` with the job's defaults, one time slice per
  * micro-batch, then the nightly KPI job for every day in the table.
  * Batches are large, so decode, state update and shuffle set the rate.
  *
  * Steady phase: an open-loop feed at a fixed rate, event time running
  * `Speedup` times faster than wall time, into the job with an
  * as-soon-as-possible trigger and the event-time timeout on, for
  * `--seconds`. Batches are small, so the per-batch fixed cost sets
  * latency.
  */
object TripWorkload {
  val EventsPerS = 2000
  val Speedup = 240L
  val TickMs = 50L
  val TimeoutMs: Long = 15 * 60000L
  val WatermarkDelay = "20 minutes"

  val BacklogTrips = 80000
  val BacklogDays = 3
  val Slices = 16

  def run(ctx: Ctx): Unit = {
    val o = ctx.o
    val windowMs = o.seconds * 1000L
    val steadyFrom = LocalDate.of(2024, 5, 1).plusDays(o.seed % 7).atStartOfDay(ZoneOffset.UTC)
      .toInstant.toEpochMilli + 22 * 3600000L
    val steadyTrips = TripFeed.trips(o.seed, (EventsPerS * o.seconds / 2.06).toInt, steadyFrom,
      windowMs * Speedup, 2 * 60000L, 12 * 60000L, 300L)
    val steady = TripFeed.events(steadyTrips, t => (t - steadyFrom) / Speedup).filter(_.dueMs < windowMs)
    val backlogFrom = LocalDate.of(2024, 6, 3).plusDays(o.seed % 7).atStartOfDay(ZoneOffset.UTC)
      .toInstant.toEpochMilli
    val backlog = TripFeed.events(TripFeed.trips(o.seed + 1, BacklogTrips, backlogFrom,
      BacklogDays * 86400000L, 5 * 60000L, 60 * 60000L, 2000L), identity)

    var feed: (File, File) = null
    var warm: (File, File) = null
    val spark = ctx.setup(TripPipeline.session(o)) { _ =>
      feed = TripPipeline.writeSlices(backlog, ctx.dir("backlog-feed"), Slices)
      warm = TripPipeline.writeSlices(TripPipeline.warmFeed(o.seed), ctx.dir("warmup-feed"), 8)
    } { s => TripPipeline.warmup(ctx, s, warm) }

    // The backlog runs first: its batches also finish compiling the
    // per-batch code of the micro-batch loop that the steady phase's
    // latency rests on.
    val (backlogRows, backlogDropped) = backlogPhase(ctx, spark, backlog, feed)
    val (steadyRows, steadyDropped) = steadyPhase(ctx, spark, steady, windowMs)
    if (ctx.tracer.enabled) {
      ctx.out.layer("ingest.rows_in", (steadyRows + backlogRows).toDouble, "count")
      ctx.out.layer("core.ends_dropped", (steadyDropped + backlogDropped).toDouble, "count")
    }
    spark.stop()
  }

  /** Returns the rows ingested and the ends dropped. */
  private def steadyPhase(ctx: Ctx, spark: SparkSession, delivered: Vector[FeedEvent],
      windowMs: Long): (Long, Long) = {
    val exp = new TripFeed.Expected(delivered)
    val run = ctx.dir("steady")
    val Seq(starts, ends, staging) = Seq("starts", "ends", "staging").map { n =>
      val d = new File(run, n); d.mkdirs(); d
    }
    val table = new File(run, "table")
    Probe.tag(spark.sparkContext, "steady")
    val q = TripStreamJob.start(spark,
      startLines = TripPipeline.lines(spark, starts, None),
      endLines = TripPipeline.lines(spark, ends, None),
      tablePath = table.getPath,
      checkpointDir = new File(run, "ckpt").getPath,
      trigger = Trigger.ProcessingTime(0L),
      timeoutMs = TimeoutMs,
      watermarkDelay = WatermarkDelay)
    val t0 = System.currentTimeMillis() + 200
    val gen = new Generator(delivered, starts, ends, staging, t0, TickMs)
    ctx.phase("steady") {
      gen.start()
      gen.join()
      q.processAllAvailable()
    }
    q.stop()
    gen.error.foreach(e => throw e)
    val bs = TripPipeline.batches(q)
    val rowsIn = bs.map(_.inputRows).sum

    Probe.tag(spark.sparkContext, "verify")
    val vis = ctx.phase("verify")(TripPipeline.visibility(spark, table))
    val samples = TripPipeline.latencies(ctx, delivered, e => t0 + e.dueMs, vis,
      bs.map(b => b.id -> b.endMs).toMap)
    // the first third of the window is ramp-up: delivered and checked,
    // not timed
    TripPipeline.reportLatency(ctx, samples.collect { case (due, l) if due >= t0 + windowMs / 3 => l })
    val dropped = ctx.phase("verify")(TripPipeline.checkTable(ctx, spark, table, delivered, exp, vis))
    ctx.out.check("steady rows in", rowsIn == exp.events, s"got=$rowsIn want=${exp.events}")

    if (ctx.tracer.enabled) {
      // events due before each batch started, minus those already ingested
      val dues = delivered.map(t0 + _.dueMs)
      var j = 0
      var ingested = 0L
      val lag = bs.map { b =>
        while (j < dues.size && dues(j) <= b.startMs) j += 1
        val l = j - ingested
        ingested += b.inputRows
        l.toDouble
      }
      ctx.probe.foreach(_.quiesce())
      TripPipeline.batchSpans(ctx, bs)
      TripPipeline.steadyLayers(ctx, bs, (bs.map(_.endMs).max - bs.head.startMs).toDouble, lag.max)
      ctx.out.layer("generator.late_ms_max", gen.lateMaxMs, "ms")
    }
    Harness.rmrf(run)
    (rowsIn, dropped)
  }

  /** Returns the rows ingested and the ends dropped. */
  private def backlogPhase(ctx: Ctx, spark: SparkSession, delivered: Vector[FeedEvent],
      feed: (File, File)): (Long, Long) = {
    val exp = new TripFeed.Expected(delivered)
    val run = ctx.dir("backlog")
    val table = new File(run, "table")
    Probe.tag(spark.sparkContext, "backlog")
    val t0 = System.currentTimeMillis()
    val q = ctx.phase("replay")(TripPipeline.replay(spark, feed, table, new File(run, "ckpt")))
    val replayMs = System.currentTimeMillis() - t0
    val bs = TripPipeline.batches(q)
    val rowsIn = bs.map(_.inputRows).sum
    ctx.out.e2e("throughput_per_s") = (rowsIn * 1000.0 / replayMs, "1/s")
    val kpiOut = new File(run, "kpi")
    val (kpiMs, kpiDayMs) = ctx.phase("kpi")(TripPipeline.kpis(ctx, spark, table, kpiOut))
    ctx.out.e2e("batch_job_s") = (kpiMs / 1000, "s")

    Probe.tag(spark.sparkContext, "verify")
    val vis = ctx.phase("verify")(TripPipeline.visibility(spark, table))
    TripPipeline.latencies(ctx, delivered, _ => t0, vis, bs.map(b => b.id -> b.endMs).toMap)
    val dropped = ctx.phase("verify")(TripPipeline.checkTable(ctx, spark, table, delivered, exp, vis))
    ctx.out.check("backlog rows in", rowsIn == exp.events, s"got=$rowsIn want=${exp.events}")
    TripPipeline.checkKpis(ctx, kpiOut, exp)
    if (ctx.tracer.enabled) {
      ctx.probe.foreach(_.quiesce())
      TripPipeline.batchSpans(ctx, bs)
      TripPipeline.backlogLayers(ctx, spark, bs, table, kpiDayMs)
    }
    Harness.rmrf(run)
    (rowsIn, dropped)
  }
}
