package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution.
  * Spark's listener and progress events carry epoch-ms stamps, so the
  * harness spans use the same base and all spans share one timeline.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(kind: String, name: String, startMs: Double, endMs: Double)

/** In-memory span recorder; written out once, at the end of the run.
  * Disabled, it records nothing and `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()

  def add(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = Clock.nowMs
      try body finally add(Span(kind, name, t0, Clock.nowMs))
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Self time per span kind: a span's duration minus the union of its
  * direct children, where a child is the next span that starts inside
  * it on the shared timeline. A child that outlives its parent is
  * clipped to the parent.
  */
object SelfTime {
  def byKind(spans: Seq[Span]): Map[String, Double] = {
    val sorted = spans.sortBy(s => (s.startMs, -s.endMs)).toIndexedSeq
    val children = Array.fill(sorted.size)(mutable.ArrayBuffer[(Double, Double)]())
    val open = mutable.ArrayBuffer[Int]()
    sorted.indices.foreach { i =>
      val s = sorted(i)
      while (open.nonEmpty && sorted(open.last).endMs <= s.startMs) open.remove(open.size - 1)
      open.lastOption.foreach { p =>
        children(p) += ((s.startMs, math.min(s.endMs, sorted(p).endMs)))
      }
      open += i
    }
    sorted.indices
      .map(i => sorted(i).kind -> (sorted(i).endMs - sorted(i).startMs - covered(children(i).toSeq)))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Spark job, stage and task counters, split by the tag the harness
  * put on the submitting thread (`Probe.tag`). A streaming query's
  * thread inherits the tag that was set when the query started. Only
  * Spark's public listener API is used.
  */
final class JobProbe(tracer: Tracer) extends SparkListener {
  final class Tally {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var recordsRead = 0L
  }

  private val tallies = mutable.HashMap[String, Tally]()
  private val stageTag = mutable.HashMap[Int, String]()
  private val jobInfo = mutable.HashMap[Int, (String, Long)]()
  private var started = 0L
  private var ended = 0L
  private var events = 0L

  private def tally(tag: String): Tally = tallies.getOrElseUpdate(tag.takeWhile(_ != ':'), new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.TagKey))).getOrElse("other")
    jobInfo(e.jobId) = (tag, e.time)
    e.stageIds.foreach(stageTag(_) = tag)
    tally(tag).jobs += 1
    started += 1; events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (tag, t0) =>
      tracer.add(Span("job", tag, t0.toDouble, e.time.toDouble))
    }
    ended += 1; events += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    tally(stageTag.getOrElse(e.stageInfo.stageId, "other")).stages += 1
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageTag.getOrElse(e.stageId, "other"))
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.taskMs += m.executorRunTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.recordsRead += m.inputMetrics.recordsRead
    }
    events += 1
  }

  /** Listener delivery is asynchronous: wait until every started job
    * has ended and no event arrived for a short while.
    */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    var last = -1L
    while (System.currentTimeMillis() < deadline) {
      val (n, open) = synchronized((events, started - ended))
      if (n == last && open == 0) return
      last = n
      Thread.sleep(250)
    }
  }

  def get(tag: String): Tally = synchronized(tallies.getOrElse(tag, new Tally))
}

object Probe {
  val TagKey = "graftbench.tag"

  /** Tag the jobs the current thread (and threads it starts) submits. */
  def tag(sc: SparkContext, tag: String): Unit = sc.setLocalProperty(TagKey, tag)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val sorted = xs.sorted
    sorted(math.max(0, math.ceil(p * sorted.size).toInt - 1))
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(v => math.log(math.max(v, 1e-3))).sum / xs.size)
}

/** What one run reports: checks, end-to-end and per-layer metrics. */
final class Outcome {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"$what $detail".trim
    }
  }

  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  def toJson(spans: Seq[Span]): String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    val selfMs = SelfTime.byKind(spans).toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""e2e":${metrics(e2e)},"layers":${metrics(layers)},"span_self_ms":$selfMs}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def spans(ss: Seq[Span]): String =
    ss.sortBy(_.startMs).map { s =>
      s"""{"kind":${str(s.kind)},"name":${str(s.name)},"start_ms":${num(s.startMs)},"end_ms":${num(s.endMs)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
