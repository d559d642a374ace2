package graft.sink

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.core.{DailyKpiJob, KpiAggregation}
import graft.schema.TripSchemas

class KpiJsonSinkSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def sampleTrips = {
    import spark.implicits._
    Seq(
      ("t1", TripSchemas.StatusCompleted, 10.0, Date.valueOf("2024-05-25")),
      ("t2", TripSchemas.StatusCompleted, 30.0, Date.valueOf("2024-05-25")),
      ("t3", TripSchemas.StatusStarted, 0.0, Date.valueOf("2024-05-25")))
      .toDF("trip_id", "status", "fare_amount", "date")
      .withColumn("dropoff_datetime",
        org.apache.spark.sql.functions.lit(null).cast("timestamp"))
  }

  test("writeDaily lands one JSON doc at <out>/yyyy-MM/yyyy-MM-dd.json") {
    val out = Files.createTempDirectory("graft-kpi").toString
    val docs = KpiAggregation.kpiDocument(KpiAggregation.dailyKpis(sampleTrips))
    val paths = KpiJsonSink.writeDaily(docs, out)
    paths should have size 1
    paths.head shouldBe Paths.get(out, "2024-05", "2024-05-25.json").toString
    val json = Files.readString(Paths.get(paths.head))
    json should include(""""date":"2024-05-25"""")
    json should include(""""metrics"""")
    json should include(""""count_trips":2""")
    json should include(""""total_fare":40.0""")
  }

  test("DailyKpiJob end-to-end writes the doc for a populated day") {
    val table = Files.createTempDirectory("graft-kpi").resolve("trips").toString
    val out = Files.createTempDirectory("graft-kpi-out").toString
    TripTableSink.appendDelta(sampleTrips, table, epoch = 0L)
    val paths = DailyKpiJob.run(spark, table, out, Some("2024-05-25"))
    paths should have size 1
    Files.exists(Paths.get(out, "2024-05", "2024-05-25.json")) shouldBe true
  }

  test("DailyKpiJob on an append-delta table does not double-count redeliveries") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft-kpi").resolve("trips").toString
    val out = Files.createTempDirectory("graft-kpi-out").toString
    def completed(fare: Double) = Seq(
      ("t1", TripSchemas.StatusCompleted, fare, Date.valueOf("2024-05-25")))
      .toDF("trip_id", "status", "fare_amount", "date")
      .withColumn("dropoff_datetime",
        org.apache.spark.sql.functions.lit(Timestamp.valueOf("2024-05-25 10:25:00")))
    TripTableSink.appendDelta(completed(24.5), table, epoch = 0L)
    TripTableSink.appendDelta(completed(24.5), table, epoch = 1L) // redelivery
    val paths = DailyKpiJob.run(spark, table, out, Some("2024-05-25"))
    paths should have size 1
    val json = Files.readString(Paths.get(paths.head))
    json should include(""""count_trips":1""") // merged, not double-counted
    json should include(""""total_fare":24.5""")
  }

  test("F5: an empty day produces no output file") {
    val table = Files.createTempDirectory("graft-kpi").resolve("trips").toString
    val out = Files.createTempDirectory("graft-kpi-out").toString
    TripTableSink.appendDelta(sampleTrips, table, epoch = 0L)
    val paths = DailyKpiJob.run(spark, table, out, Some("2030-01-01"))
    paths shouldBe empty
    Files.list(Paths.get(out)).count() shouldBe 0
  }

  test("a null-date KPI row is skipped, not a publish-aborting NPE") {
    import spark.implicits._
    val trips = Seq(
      ("t1", TripSchemas.StatusCompleted, 10.0, Some(Date.valueOf("2024-05-25"))),
      ("t2", TripSchemas.StatusCompleted, 30.0, None: Option[Date]))
      .toDF("trip_id", "status", "fare_amount", "date")
    val out = Files.createTempDirectory("graft-kpi").toString
    val docs = KpiAggregation.kpiDocument(KpiAggregation.dailyKpis(trips))
    val paths = KpiJsonSink.writeDaily(docs, out)
    paths should have size 1 // the valid day published, null group skipped
    paths.head should endWith("2024-05-25.json")
  }

  test("upsert preserves previously stored null-date rows") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-sink").resolve("trips").toString
    def row(id: String, date: Option[Date]) = Seq((id, TripSchemas.StatusStarted, 0.0, date))
      .toDF("trip_id", "status", "fare_amount", "date")
      .withColumn("dropoff_datetime",
        org.apache.spark.sql.functions.lit(null).cast("timestamp"))
    TripTableSink.appendDelta(row("x", None), path, epoch = 0L)
    TripTableSink.appendDelta(row("y", None), path, epoch = 1L)
    // both null-date trips survive the merge: the null `date` partition
    // is a real partition, not one the merge view drops
    TripTableSink.readMerged(spark, path).select("trip_id").collect()
      .map(_.getString(0)).sorted shouldBe Array("x", "y")
  }

  test("P8: previousDay computes yyyy-MM-dd minus one day") {
    import spark.implicits._
    val prev = Seq(Timestamp.valueOf("2024-03-01 05:00:00")).toDF("ts")
      .select(KpiAggregation.previousDay(org.apache.spark.sql.functions.col("ts")))
      .head.getString(0)
    prev shouldBe "2024-02-29" // leap year
  }
}
