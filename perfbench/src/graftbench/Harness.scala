package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark JVM. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: File,
    sfDir: String,
    queries: File) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

/** Everything a workload needs: options, tracer, outcome, and (traced
  * runs only) the Spark job probe.
  */
final class Ctx(val o: Opts, val tracer: Tracer, val out: Outcome) {
  var probe: Option[JobProbe] = None

  def dir(name: String): File = {
    val d = new File(o.work, name)
    d.mkdirs()
    d
  }

  def phase[T](name: String)(body: => T): T = tracer.span("phase", name)(body)

  /** Set up `Harness.SetupReps` times (session, inputs, warm-up), keep
    * the last session, and report the median of each part. Later reps
    * stop the previous session first, so each rep pays a full start.
    */
  def setup(session: () => SparkSession)(prepare: SparkSession => Unit)(
      warmup: SparkSession => Unit): SparkSession = {
    var spark: SparkSession = null
    val reps = (1 to Harness.SetupReps).map { i =>
      if (spark != null) spark.stop()
      val t0 = Clock.nowMs
      spark = phase(s"setup.session#$i")(session())
      val t1 = Clock.nowMs
      phase(s"setup.feed#$i")(prepare(spark))
      val t2 = Clock.nowMs
      phase(s"setup.warmup#$i")(warmup(spark))
      val t3 = Clock.nowMs
      (t1 - t0, t2 - t1, t3 - t2)
    }
    out.e2e("setup_s") = (Stats.median(reps.map(r => r._1 + r._2 + r._3)) / 1000, "s")
    out.layer("setup.session_s", Stats.median(reps.map(_._1)) / 1000, "s")
    out.layer("setup.feed_s", Stats.median(reps.map(_._2)) / 1000, "s")
    out.layer("setup.warmup_s", Stats.median(reps.map(_._3)) / 1000, "s")
    if (tracer.enabled) {
      val p = new JobProbe(tracer)
      spark.sparkContext.addSparkListener(p)
      probe = Some(p)
    }
    spark
  }
}

object Harness {
  val SetupReps = 3

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }
}
