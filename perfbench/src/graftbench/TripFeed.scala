package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

/** One trip of the synthetic feed. Money is carried in cents so the
  * reference KPIs are exact. `end`: 0 = no end event, 1 = end with its
  * telemetry quad, 2 = end with a null quad. A trip without a start is
  * an orphan end.
  */
final case class Trip(
    id: String,
    hasStart: Boolean,
    end: Int,
    pickupMs: Long,
    dropoffMs: Long,
    dupStart: Boolean,
    dupEnd: Boolean,
    dupDelayMs: Long,
    puLoc: Int,
    doLoc: Int,
    vendor: Int,
    passengers: Int,
    payment: Int,
    estFareCents: Long,
    fareCents: Long,
    tipCents: Long,
    distanceCenti: Long)

/** One delivery of a start or end event. `dueMs` is on the feed's own
  * clock (0 = feed start); a duplicate is a redelivery of the same line.
  */
final case class FeedEvent(dueMs: Long, isStart: Boolean, dup: Boolean, trip: Trip)

/** Reference KPIs for one day, computed straight from the feed. */
final case class KpiRef(count: Long, sumCents: Long, maxCents: Long, minCents: Long)

/** Seeded trip-feed generator shaped like the reference's data
  * (trip_start.csv / trip_end.csv, send_to_kinesis.py): each trip's end
  * follows its start, 10.6% of end events carry a null telemetry quad
  * (BASELINE.md: 531 of 4,999), a small share of events is redelivered
  * and a small share of ends has no start.
  */
object TripFeed {
  val NullQuadShare = 0.106
  val OrphanEndShare = 0.01
  val DuplicateShare = 0.02

  /** `nTrips` trips with pickups uniform over `[fromMs, fromMs + spanMs)`
    * (a Poisson arrival process, conditioned on its count), whole-second
    * event times, durations uniform in `[durMinMs, durMaxMs]`, plus the
    * orphan ends.
    */
  def trips(seed: Long, nTrips: Int, fromMs: Long, spanMs: Long,
      durMinMs: Long, durMaxMs: Long, dupDelayMaxMs: Long): Vector[Trip] = {
    val rnd = new SplittableRandom(seed)
    def sec(ms: Long) = ms / 1000 * 1000
    def one(id: String, hasStart: Boolean): Trip = {
      val pickup = sec(fromMs + (rnd.nextDouble() * spanMs).toLong)
      val dur = sec(durMinMs + (rnd.nextDouble() * (durMaxMs - durMinMs)).toLong)
      val fare = 250L + rnd.nextLong(9000L)
      Trip(
        id = id,
        hasStart = hasStart,
        end = if (!hasStart || rnd.nextDouble() >= NullQuadShare) 1 else 2,
        pickupMs = pickup,
        dropoffMs = pickup + dur,
        dupStart = hasStart && rnd.nextDouble() < DuplicateShare,
        dupEnd = hasStart && rnd.nextDouble() < DuplicateShare,
        dupDelayMs = 1L + rnd.nextLong(dupDelayMaxMs),
        puLoc = 1 + rnd.nextInt(265),
        doLoc = 1 + rnd.nextInt(265),
        vendor = 1 + rnd.nextInt(2),
        passengers = 1 + rnd.nextInt(6),
        payment = 1 + rnd.nextInt(4),
        estFareCents = math.max(250L, fare + rnd.nextLong(-500L, 500L)),
        fareCents = fare,
        tipCents = rnd.nextLong(fare / 4 + 1),
        distanceCenti = 30L + rnd.nextLong(3000L))
    }
    val prefix = s"s$seed-"
    val normal = (0 until nTrips).map(i => one(f"$prefix$i%07d", hasStart = true))
    val orphans = (0 until math.max(1, (nTrips * OrphanEndShare).toInt))
      .map(i => one(f"${prefix}o$i%06d", hasStart = false))
    (normal ++ orphans).toVector
  }

  /** Every delivery, with due times from `dueOf(eventMs)`, sorted by due. */
  def events(trips: Seq[Trip], dueOf: Long => Long): Vector[FeedEvent] = {
    val out = mutable.ArrayBuffer[FeedEvent]()
    trips.foreach { t =>
      if (t.hasStart) {
        val d = dueOf(t.pickupMs)
        out += FeedEvent(d, isStart = true, dup = false, t)
        if (t.dupStart) out += FeedEvent(d + t.dupDelayMs, isStart = true, dup = true, t)
      }
      if (t.end != 0) {
        val d = dueOf(t.dropoffMs)
        out += FeedEvent(d, isStart = false, dup = false, t)
        if (t.dupEnd) out += FeedEvent(d + t.dupDelayMs, isStart = false, dup = true, t)
      }
    }
    out.sortBy(_.dueMs).toVector
  }

  private def iso(ms: Long): String = Instant.ofEpochMilli(ms).toString

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  /** The JSON line the producer would put on the stream, stamped with
    * the epoch-ms time it was due (`due_ms`, ignored by the decoder).
    */
  def line(e: FeedEvent, dueEpochMs: Long): String = {
    val t = e.trip
    if (e.isStart)
      s"""{"trip_id":"${t.id}","pickup_location_id":${t.puLoc},"dropoff_location_id":${t.doLoc},""" +
        s""""vendor_id":${t.vendor},"pickup_datetime":"${iso(t.pickupMs)}",""" +
        s""""estimated_dropoff_datetime":"${iso(t.dropoffMs)}",""" +
        s""""estimated_fare_amount":${money(t.estFareCents)},"due_ms":$dueEpochMs}"""
    else {
      val quad =
        if (t.end == 2) """"rate_code":null,"passenger_count":null,"payment_type":null,"trip_type":null"""
        else s""""rate_code":1.0,"passenger_count":${t.passengers}.0,"payment_type":${t.payment}.0,"trip_type":1.0"""
      s"""{"trip_id":"${t.id}","dropoff_datetime":"${iso(t.dropoffMs)}",$quad,""" +
        s""""trip_distance":${money(t.distanceCenti)},"fare_amount":${money(t.fareCents)},""" +
        s""""tip_amount":${money(t.tipCents)},"due_ms":$dueEpochMs}"""
    }
  }

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** What a correct pipeline must produce from these deliveries. */
  final class Expected(delivered: Seq[FeedEvent]) {
    private val started: Set[String] = delivered.iterator.filter(_.isStart).map(_.trip.id).toSet
    private val completedTrips: Seq[Trip] = delivered
      .filter(e => !e.isStart && !e.dup && e.trip.end == 1 && started(e.trip.id)).map(_.trip)

    val events: Long = delivered.size.toLong
    val completed: Long = completedTrips.size.toLong
    /** End deliveries whose trip never had a start: logged and dropped. */
    val droppedEnds: Long = delivered.count(e => !e.isStart && !started(e.trip.id)).toLong

    val kpis: Map[String, KpiRef] = completedTrips
      .groupBy(t => Instant.ofEpochMilli(t.pickupMs).atZone(ZoneOffset.UTC).toLocalDate.toString)
      .map { case (day, ts) =>
        val fares = ts.map(_.fareCents)
        day -> KpiRef(fares.size.toLong, fares.sum, fares.max, fares.min)
      }
  }
}
