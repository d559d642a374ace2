package graftbench

import java.io.File
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** `registry_sf01`: a fixed sample of `SparkEntry.benchQueries` on the
  * sf0.1 tables, each run once, in registry order, in one session, on
  * the bench lane. A query is timed on its first call, build (the
  * DataFrame, with any eager jobs its helpers run) and materialise
  * (`queryExecution.toRdd`) apart; its pins are counted, then released.
  */
object RegistryWorkload {
  private val Entry = "\"([^\"]+)\"\\s*:\\s*(\\d+)".r

  /** The sample and each query's committed row count. */
  def expected(f: File): Seq[(String, Long)] = {
    val txt = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val body = txt.substring(txt.indexOf("\"rows\""))
    Entry.findAllMatchIn(body.substring(body.indexOf('{'))).map(m => m.group(1) -> m.group(2).toLong).toSeq
  }

  def run(ctx: Ctx): Unit = {
    val o = ctx.o
    System.setProperty("graft.lane", "bench")
    require(new File(o.sfDir, "lineitem.parquet").exists, s"no sf0.1 tables under ${o.sfDir}")
    val sample = expected(o.queries)
    val known = SparkEntry.benchQueries.toSet
    sample.foreach { case (q, _) => ctx.out.check(s"$q is a bench query", known(q)) }

    def session(): SparkSession = {
      val s = GraftSession.configure(
        SparkSession.builder().master(s"local[${o.cores}]").appName("graftbench-registry"),
        shufflePartitions = o.cores)
        .config("spark.sql.warehouse.dir", ctx.dir("warehouse").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // Set-up reads every table once, so no timed query pays a cold file
    // read, then runs graft.Bench's warm-up query.
    val tables = Option(new File(o.sfDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    val spark = ctx.setup(() => session()) { s =>
      Probe.tag(s.sparkContext, "setup")
      tables.foreach(t => s.read.parquet(t).queryExecution.toRdd.count())
    } { s =>
      s.read.parquet(s"${o.sfDir}/lineitem.parquet")
        .groupBy("l_returnflag").count().queryExecution.toRdd.count()
    }

    final case class Timing(buildMs: Double, execMs: Double, catalystMs: Double, pinned: Int)
    val timings = ctx.phase("measure") {
      sample.flatMap { case (name, wantRows) =>
        try {
          val q0 = Clock.nowMs
          Probe.tag(spark.sparkContext, s"build:$name")
          val df = ctx.tracer.span("build", name)(SparkEntry.queries(name)(spark, o.sfDir))
          val q1 = Clock.nowMs
          Probe.tag(spark.sparkContext, s"materialise:$name")
          val rows = ctx.tracer.span("materialise", name)(df.queryExecution.toRdd.count())
          val q2 = Clock.nowMs
          ctx.tracer.add(Span("query", name, q0, q2))
          ctx.out.check(s"$name rows", rows == wantRows, s"got=$rows want=$wantRows")
          val catalyst = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
          val pins = spark.sparkContext.getPersistentRDDs.values
          pins.foreach(_.unpersist(blocking = true))
          Some(Timing(q1 - q0, q2 - q1, catalyst, pins.size))
        } catch {
          case NonFatal(e) =>
            ctx.out.check(s"$name ran", ok = false, e.toString)
            None
        }
      }
    }
    val ms = timings.map(t => t.buildMs + t.execMs)
    val total = ms.sum
    val out = ctx.out
    out.e2e("latency_p50_ms") = (Stats.quantile(ms, 0.5), "ms")
    out.e2e("latency_p90_ms") = (Stats.quantile(ms, 0.9), "ms")
    out.e2e("latency_geomean_ms") = (Stats.geomean(ms), "ms")
    out.e2e("throughput_per_s") = (timings.size * 1000.0 / total, "1/s")
    out.e2e("batch_job_s") = (total / 1000, "s")
    if (ctx.tracer.enabled) {
      ctx.probe.foreach(_.quiesce())
      val b = ctx.probe.map(_.get("build")).get
      val m = ctx.probe.map(_.get("materialise")).get
      out.layer("registry.construct_s", timings.map(_.buildMs).sum / 1000, "s")
      out.layer("registry.execute_s", timings.map(_.execMs).sum / 1000, "s")
      out.layer("registry.catalyst_s", timings.map(_.catalystMs).sum / 1000, "s")
      out.layer("registry.eager_jobs", b.jobs.toDouble, "count")
      out.layer("registry.jobs", (b.jobs + m.jobs).toDouble, "count")
      out.layer("registry.stages", (b.stages + m.stages).toDouble, "count")
      out.layer("registry.tasks", (b.tasks + m.tasks).toDouble, "count")
      out.layer("registry.task_s", (b.taskMs + m.taskMs) / 1000.0, "s")
      out.layer("registry.shuffle_bytes", (b.shuffleBytes + m.shuffleBytes).toDouble, "bytes")
      out.layer("registry.spill_bytes", (b.spillBytes + m.spillBytes).toDouble, "bytes")
      out.layer("registry.pinned_after", timings.map(_.pinned).sum.toDouble, "count")
    }
    spark.stop()
  }
}
