package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.schema._

/** Batch + streaming ingestion of trip events (SURVEY.md §2.1 S1-S5).
  *
  * Batch CSVs are read with explicit schemas (no inference — a schema
  * inference pass is a second full scan at 100 TB). Streaming input is
  * a line/value stream of JSON payloads, decoded with `from_json`;
  * corrupt records decode to null and are dropped, matching the
  * reference's per-record try/except skip
  * (reference: trip_processor.py:28,82-84).
  */
object EventReader {

  /** S1: trip-start CSV scan with explicit schema. Malformed lines parse
    * to all-null rows (PERMISSIVE); drop them by the non-null key so one
    * poison line cannot crash the typed path — the batch analog of the
    * reference's per-record try/except skip.
    */
  def readTripStarts(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(TripSchemas.tripStartSchema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)
      .where(col("trip_id").isNotNull)

  /** S2: trip-end CSV scan. The physical schema follows the file's
    * column order (Spark binds explicit CSV schemas positionally) and
    * reads the telemetry quad as double — the file stores `5.0`-style
    * floats; we then cast to the logical IntegerType and reorder to the
    * canonical [[TripSchemas.tripEndSchema]] shape.
    */
  def readTripEnds(spark: SparkSession, path: String): DataFrame =
    castToCanonicalEnd(
      spark.read
        .schema(TripSchemas.tripEndCsvSchema)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
        .where(col("trip_id").isNotNull))

  /** Project any end frame (CSV-physical or JSON-wire order, double
    * quad) onto the canonical [[TripSchemas.tripEndSchema]] shape.
    */
  private def castToCanonicalEnd(df: DataFrame): DataFrame =
    df.select(TripSchemas.tripEndSchema.fields.map { f =>
      col(f.name).cast(f.dataType).as(f.name)
    }.toSeq: _*)

  def tripStarts(spark: SparkSession, path: String): Dataset[TripStart] = {
    import spark.implicits._
    readTripStarts(spark, path).as[TripStart]
  }

  def tripEnds(spark: SparkSession, path: String): Dataset[TripEnd] = {
    import spark.implicits._
    readTripEnds(spark, path).as[TripEnd]
  }

  /** P1/S3 producer side: rows → JSON `value` column, partitioned by the
    * stream key the way Kinesis shard-hashes the partition key
    * (reference: send_to_kinesis.py:43-57).
    */
  def toJsonStream(df: DataFrame, keyCol: String, shards: Int): DataFrame =
    df.repartition(shards, col(keyCol))
      .select(col(keyCol).as("key"), to_json(struct(df.columns.map(col): _*)).as("value"))

  /** P2/S4 consumer side: decode a `value` JSON column against a schema;
    * corrupt payloads become null rows and are dropped (at-least-once,
    * poison records skipped — reference: trip_processor.py:82-84).
    *
    * Each line is parsed ONCE: `inline` spreads the one-element array
    * into columns (a null struct into an all-null row), and a filter
    * over a generator's output cannot be pushed below it. The plainer
    * `from_json(...).as("r")` + `where(r.trip_id ...)` + `r.*` spelling
    * parses three times — the optimizer copies the parse into the
    * pushed-down filter and into the projection.
    */
  def decodeJson(df: DataFrame, schema: StructType): DataFrame =
    df.select(inline(array(from_json(col("value"), schema))))
      .where(col("trip_id").isNotNull)

  /** DLQ side output (SURVEY.md §2.7): the value lines that fail to
    * decode against `schema` — the records the reference's per-record
    * try/except silently swallowed (trip_processor.py:82-84), exposed as
    * a queryable stream/frame instead. Works on the same input frame as
    * [[decodeJson]]; together they partition it.
    */
  def corruptRecords(df: DataFrame, schema: StructType): DataFrame = {
    val r = from_json(col("value"), schema)
    // includes NULL values (tombstones): every input row lands in
    // exactly one of decodeJson / corruptRecords — full accountability
    df.where(col("value").isNull ||
        r.isNull || r.getField("trip_id").isNull)
      .select(col("value").as("raw"))
  }

  /** S5: tag + union the two event kinds into the single correlator
    * input (the `eventSourceARN` split analog,
    * reference: trip_processor.py:39).
    */
  def taggedUnion(spark: SparkSession, starts: Dataset[TripStart], ends: Dataset[TripEnd]): Dataset[TripEvent] = {
    import spark.implicits._
    starts.map(TripEvent.ofStart _).unionByName(ends.map(TripEvent.ofEnd _))
  }

  /** Streaming S4: JSON value stream → typed start events. */
  def decodeStartStream(spark: SparkSession, lines: DataFrame): Dataset[TripStart] = {
    import spark.implicits._
    decodeJson(lines, TripSchemas.tripStartSchema).as[TripStart]
  }

  /** Streaming S4: JSON value stream → typed end events. Decodes
    * against the DoubleType-quad wire schema, then casts to canonical —
    * a producer emitting the raw `5.0`-style floats round-trips intact.
    */
  def decodeEndStream(spark: SparkSession, lines: DataFrame): Dataset[TripEnd] = {
    import spark.implicits._
    castToCanonicalEnd(decodeJson(lines, TripSchemas.tripEndWireSchema)).as[TripEnd]
  }
}
