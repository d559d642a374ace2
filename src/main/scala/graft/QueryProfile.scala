package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The in-tree per-query tool. By default it runs named queries (bench
  * methodology — `queryExecution.toRdd.count()`) with a listener that
  * splits wall time into scheduled-job time vs driver-only gaps
  * (analysis/optimization/codegen/collect-free planning), and reports
  * per-stage task time, shuffle bytes and spill. The missing Spark-UI
  * view for a headless optimization loop: "is this query executor-bound
  * or driver-bound, and in which stage?"
  *
  * `--plan` prints each named query's formatted physical plan instead
  * (the only explain mode that renders the scans' `PushedFilters`
  * untruncated), so PLANS.md sections are captured, not transcribed.
  * Both modes build the queries on the bench lane, as Bench does.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.QueryProfile [--plan] q28_minhash_pairs q182_char_span_dedup"`
  */
object QueryProfile {
  final case class StageAgg(var name: String, var tasks: Int = 0, var taskTimeMs: Long = 0,
      var shuffleReadB: Long = 0, var shuffleWriteB: Long = 0,
      var spillB: Long = 0, var wallMs: Long = 0, var inputB: Long = 0,
      var outRows: Long = 0)

  /** One profiled rep of one query; `stages` is keyed by stage id. */
  final case class Rep(name: String, rep: Int, wallMs: Long, rows: Long,
      jobs: Int, jobWallMs: Long, stages: Seq[(Int, StageAgg)])

  private final class Probe extends SparkListener {
    val stages = scala.collection.mutable.LinkedHashMap[Int, StageAgg]()
    var jobWallMs: Long = 0
    var nJobs: Int = 0
    private val jobStart = scala.collection.mutable.Map[Int, Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart(e.jobId) = e.time
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobStart.remove(e.jobId).foreach { t0 =>
        jobWallMs += (e.time - t0); nJobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val a = stages.getOrElseUpdate(si.stageId, StageAgg(si.name))
      a.name = si.name // onTaskEnd may have created the row with ""
      a.wallMs = (for {c <- si.completionTime; s <- si.submissionTime}
        yield c - s).getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.getOrElseUpdate(e.stageId, StageAgg(""))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskTimeMs += m.executorRunTime
        a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputB += m.inputMetrics.bytesRead
        a.outRows += m.outputMetrics.recordsWritten
      }
    }
    def reset(): Unit = { stages.clear(); jobWallMs = 0; nJobs = 0; jobStart.clear() }
  }

  /** Runs each named query `reps` times under a job/stage listener and
    * returns one [[Rep]] per (query, rep). RDDs a rep persisted are
    * released after it, as Bench does; RDDs persisted before the call
    * are left alone and the listener is removed on return, so a shared
    * session can call this.
    */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Seq[Rep] = {
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    try for (name <- names; rep <- 1 to reps) yield {
      probe.reset()
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
      spark.sparkContext.setJobDescription(s"$name rep$rep")
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val wallMs = (System.nanoTime() - t0) / 1000000
      Thread.sleep(300) // let straggling listener events drain
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) =>
          if (!pinnedBefore.contains(id)) rdd.unpersist(blocking = true)
        }
      Rep(name, rep, wallMs, rows, probe.nJobs, probe.jobWallMs, probe.stages.toSeq)
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(probe)
    }
  }

  /** The formatted physical plan of one named query. */
  def plan(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)

  def main(args: Array[String]): Unit = {
    System.setProperty("graft.lane", "bench")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt.max(1)
    val names = args.filterNot(_.startsWith("--")).toSeq
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-profile"),
      shufflePartitions = cpus
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.contains("--plan")) {
      names.foreach { name =>
        println(s"==== $name ====")
        println(plan(spark, sfDir, name))
      }
    } else {
      // same global warmup as Bench
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().queryExecution.toRdd.count()
      def mb(b: Long): String = f"${b / 1048576.0}%.1fMB"
      profile(spark, sfDir, names, reps).foreach { r =>
        val sumStageWall = r.stages.map(_._2.wallMs).sum
        println(f"==== ${r.name} rep${r.rep} wall=${r.wallMs / 1000.0}%.2fs rows=${r.rows} " +
          f"jobs=${r.jobs} jobWall=${r.jobWallMs / 1000.0}%.2fs " +
          f"driverGap=${(r.wallMs - r.jobWallMs) / 1000.0}%.2fs " +
          f"stageWallSum=${sumStageWall / 1000.0}%.2fs")
        if (r.rep == reps) { // only print stage detail on the last (warm) rep
          r.stages.sortBy(-_._2.taskTimeMs).take(12).foreach {
            case (id, a) =>
              println(f"  stage$id%5d wall=${a.wallMs / 1000.0}%6.2fs " +
                f"taskSum=${a.taskTimeMs / 1000.0}%7.2fs n=${a.tasks}%4d " +
                f"in=${mb(a.inputB)}%9s sr=${mb(a.shuffleReadB)}%9s " +
                f"sw=${mb(a.shuffleWriteB)}%9s spill=${mb(a.spillB)}%9s  ${a.name.take(80)}")
          }
        }
      }
    }
    spark.stop()
  }
}
