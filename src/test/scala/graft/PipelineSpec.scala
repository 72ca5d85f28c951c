package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Pipeline
import graft.functions.Format5

/** Golden end-to-end parity test (SURVEY §5 item 4): decode → 30-min
  * window → two-stage-rounded aggregate → wrap delta → enrich → dual
  * projections, against hand-computed goldens. Includes the §2.2 traps:
  * wrap-around across 255→0 (`/root/reference/src/utils.rs:64-71`),
  * out-of-whitelist drop (`scanner.rs:175-178`), malformed-payload drop
  * (`scanner.rs:36-45`), empty interval ⇒ zero rows (`main.rs:170-172`),
  * and the 'Unknown' name default (`utils.rs:86-87`). */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val tagDim = Seq(
    ("AA:BB:CC:DD:EE:01", "Kitchen"),
    ("AA:BB:CC:DD:EE:02", "Sauna")).toDF("mac", "name")

  private def ts(s: String) = Timestamp.valueOf(s)

  /** (mac, ts, tempRaw, humRaw, pressRaw, ax, ay, az, mc) → readings DF. */
  private def readings(rows: Seq[(String, Timestamp, Long, Long, Long, Long, Long, Long, Long)]): DataFrame =
    rows.toDF("mac", "ts", "t", "h", "p", "ax", "ay", "az", "m")
      .select(
        col("mac"), col("ts"),
        unhex(Format5.encodeHex(
          col("t"), col("h"), col("p"), col("ax"), col("ay"), col("az"), col("m"))).as("payload"))

  test("golden pipeline: windows, double rounding, wrap delta, enrichment") {
    val input = readings(Seq(
      // sensor 1, window [10:00, 10:30): three readings
      ("aa:bb:cc:dd:ee:01", ts("2024-01-01 10:00:00"), 4860L, 21396L, 50044L, 4L, -4L, 1036L, 250L),
      ("aa:bb:cc:dd:ee:01", ts("2024-01-01 10:10:00"), 4000L, 20000L, 50000L, 10L, 0L, 1000L, 255L),
      ("aa:bb:cc:dd:ee:01", ts("2024-01-01 10:20:00"), 5000L, 24000L, 51000L, -10L, 4L, 1100L, 3L),
      // sensor 2: one reading in window 1, two in window 2 (10:30-11:00)
      ("AA:BB:CC:DD:EE:02", ts("2024-01-01 10:05:00"), -2000L, 20000L, 50000L, 0L, 0L, 1000L, 7L),
      ("AA:BB:CC:DD:EE:02", ts("2024-01-01 10:35:00"), 3000L, 20000L, 50000L, 0L, 0L, 1000L, 10L),
      ("AA:BB:CC:DD:EE:02", ts("2024-01-01 10:45:00"), 3100L, 20000L, 50000L, 0L, 0L, 1000L, 250L)))
      // out-of-whitelist MAC: must be dropped by the semi-join
      .unionByName(readings(Seq(
        ("FF:FF:FF:FF:FF:FF", ts("2024-01-01 10:01:00"), 4000L, 20000L, 50000L, 0L, 0L, 1000L, 1L))))
      // malformed payload for sensor 1 (wrong tag): dropped by validation
      .unionByName(
        Seq(("AA:BB:CC:DD:EE:01", ts("2024-01-01 10:15:00"))).toDF("mac", "ts")
          .select(col("mac"), col("ts"),
            unhex(lit("04" + "0" * 46)).as("payload")))

    val out = Pipeline.batch(input, tagDim)
      .orderBy("mac", "time")
      .collect()
      .map(r => (
        r.getAs[String]("mac"), r.getAs[Timestamp]("time").toString,
        r.getAs[Double]("temperature"), r.getAs[Double]("humidity"),
        r.getAs[Double]("pressure"), r.getAs[Double]("acceleration_x"),
        r.getAs[Double]("acceleration_y"), r.getAs[Double]("acceleration_z"),
        r.getAs[Int]("movement_counter"), r.getAs[Int]("samples"),
        r.getAs[String]("name")))

    val expected = Array(
      // avg temp (24.3+20+25)/3 = 23.1; hum (53.49+50+60)/3 = 54.496̄ → 54.5;
      // press (1000.44+1000+1010)/3 = 1003.48; ax 0.004/3 → 0.001; ay 0.0;
      // az 3.136/3 → 1.045; delta (3−250) mod 256 = 9 (arrival order!)
      ("AA:BB:CC:DD:EE:01", "2024-01-01 10:30:00.0", 23.1, 54.5, 1003.48, 0.001, 0.0, 1.045, 9, 3, "Kitchen"),
      // single reading: −2000·0.005 = −10.0; delta 0
      ("AA:BB:CC:DD:EE:02", "2024-01-01 10:30:00.0", -10.0, 50.0, 1000.0, 0.0, 0.0, 1.0, 0, 1, "Sauna"),
      // window 2: temps 15.0, 15.5 → 15.25; delta (250−10) mod 256 = 240
      ("AA:BB:CC:DD:EE:02", "2024-01-01 11:00:00.0", 15.25, 50.0, 1000.0, 0.0, 0.0, 1.0, 240, 2, "Sauna"))

    assert(out.toSeq == expected.toSeq)
  }

  private def utc(s: String) = Timestamp.from(java.time.Instant.parse(s))

  /** (mac, window end, movement delta, samples) of each output row. */
  private def movement(input: DataFrame): Seq[(String, java.time.Instant, Int, Int)] =
    Pipeline.batch(input, tagDim).orderBy("mac", "time").collect().toSeq.map(r => (
      r.getAs[String]("mac"), r.getAs[Timestamp]("time").toInstant,
      r.getAs[Int]("movement_counter"), r.getAs[Int]("samples")))

  /** A reading whose only varying fields are the time and the counter. */
  private def tick(mac: String, at: String, mc: Long) =
    (mac, utc(at), 4000L, 20000L, 50000L, 0L, 0L, 1000L, mc)

  test("movement delta: the counter breaks a timestamp tie, first and last alike") {
    val (s1, s2) = ("AA:BB:CC:DD:EE:01", "AA:BB:CC:DD:EE:02")
    val out = movement(readings(Seq(
      // last position tied at 10:01: (ts, counter) order makes 250 last,
      // so the delta is 250 − 3, whatever order the rows arrive in
      tick(s1, "2024-01-01T10:01:00Z", 250L),
      tick(s1, "2024-01-01T10:00:00Z", 3L),
      tick(s1, "2024-01-01T10:01:00Z", 10L),
      // first position tied at 10:00: 7 is first, last is 20 → 13
      tick(s2, "2024-01-01T10:00:00Z", 200L),
      tick(s2, "2024-01-01T10:00:00Z", 7L),
      tick(s2, "2024-01-01T10:20:00Z", 20L))))
    val end = java.time.Instant.parse("2024-01-01T10:30:00Z")
    assert(out == Seq((s1, end, 247, 3), (s2, end, 13, 3)))
  }

  test("movement delta at window edges and before 1970") {
    val s1 = "AA:BB:CC:DD:EE:01"
    val out = movement(readings(Seq(
      // [1969-12-31 23:30, 1970-01-01 00:00): first and last microsecond
      tick(s1, "1969-12-31T23:45:00Z", 100L),
      tick(s1, "1969-12-31T23:59:59.999999Z", 10L),
      tick(s1, "1969-12-31T23:30:00Z", 200L),
      // the epoch itself opens the next window
      tick(s1, "1970-01-01T00:00:00Z", 5L),
      // [2024-01-01 10:00, 10:30): first and last microsecond
      tick(s1, "2024-01-01T10:29:59.999999Z", 0L),
      tick(s1, "2024-01-01T10:00:00Z", 1L),
      tick(s1, "2024-01-01T10:30:00Z", 9L))))
    def at(i: String) = java.time.Instant.parse(i)
    assert(out == Seq(
      (s1, at("1970-01-01T00:00:00Z"), 66, 3), // (10 − 200) mod 256
      (s1, at("1970-01-01T00:30:00Z"), 0, 1),
      (s1, at("2024-01-01T10:30:00Z"), 255, 2), // (0 − 1) mod 256
      (s1, at("2024-01-01T11:00:00Z"), 0, 1)))
  }

  test("a window whose only readings are invalid yields no row") {
    val s1 = "AA:BB:CC:DD:EE:01"
    val input = readings(Seq(tick(s1, "2024-01-01T10:00:00Z", 1L)))
      .unionByName(Seq(
        (s1, utc("2024-01-01T10:40:00Z"), "04" + "0" * 46), // wrong tag
        (s1, utc("2024-01-01T10:50:00Z"), "05" + "0" * 44), // 23 bytes
        (s1, utc("2024-01-01T10:55:00Z"), null: String))
        .toDF("mac", "ts", "h").select(col("mac"), col("ts"), unhex(col("h")).as("payload")))
    assert(movement(input) ==
      Seq((s1, java.time.Instant.parse("2024-01-01T10:30:00Z"), 0, 1)))
  }

  test("empty interval produces zero rows, not nulls") {
    val input = readings(Seq(
      ("AA:BB:CC:DD:EE:01", ts("2024-01-01 10:00:00"), 4000L, 20000L, 50000L, 0L, 0L, 1000L, 1L)))
      .filter(lit(false)) // nothing survives — the reference's empty-interval warning path
    assert(Pipeline.batch(input, tagDim).count() == 0)
  }

  test("observed metrics ride the job: window/reading counts, empty-interval signal (OP-19)") {
    // populated interval: counters match the golden scenario
    val input = readings(Seq(
      ("AA:BB:CC:DD:EE:01", ts("2024-01-01 10:00:00"), 4000L, 20000L, 50000L, 0L, 0L, 1000L, 1L),
      ("AA:BB:CC:DD:EE:01", ts("2024-01-01 10:10:00"), 5000L, 20000L, 50000L, 0L, 0L, 1000L, 2L),
      ("AA:BB:CC:DD:EE:02", ts("2024-01-01 10:05:00"), 3000L, 20000L, 50000L, 0L, 0L, 1000L, 3L)))
    val (agg, obs) = Pipeline.observedBatch(input, tagDim)
    agg.write.format("noop").mode("overwrite").save() // any action completes the observation
    val m = obs.get
    assert(m("windows") == 2L, s"got $m")   // two (sensor, window) groups
    assert(m("readings") == 3L, s"got $m")  // all three decoded samples
    assert(m("first_window") == ts("2024-01-01 10:30:00"))

    // empty interval: the reference's warning condition is windows == 0
    val (aggEmpty, obsEmpty) = Pipeline.observedBatch(input.filter(lit(false)), tagDim)
    aggEmpty.write.format("noop").mode("overwrite").save()
    val me = obsEmpty.get
    assert(me("windows") == 0L && me("readings") == 0L, s"got $me")
  }

  test("unknown-name default survives schema drift (coalesce 'Unknown')") {
    val input = readings(Seq(
      ("AA:BB:CC:DD:EE:01", ts("2024-01-01 10:00:00"), 4000L, 20000L, 50000L, 0L, 0L, 1000L, 1L)))
    val nullNameTags = Seq(("AA:BB:CC:DD:EE:01", null: String)).toDF("mac", "name")
    val out = Pipeline.batch(input, nullNameTags).collect()
    assert(out.length == 1 && out.head.getAs[String]("name") == "Unknown")
  }

  test("micro-batch replay is idempotent (dynamic batch_id overwrite)") {
    val dir = SparkTestSession.tempDir("graft-replay").toString
    val agg = Pipeline.batch(readings(Seq(
      ("AA:BB:CC:DD:EE:01", ts("2024-01-01 10:00:00"), 4860L, 21396L, 50044L, 4L, -4L, 1036L, 66L))), tagDim)
    Pipeline.writeMicroBatch(agg, batchId = 7L, dir)
    Pipeline.writeMicroBatch(agg, batchId = 7L, dir) // crash-replay of the same batch
    val sensor = spark.read.parquet(s"$dir/sensor_data")
    assert(sensor.count() == 1, "replayed batch must overwrite, not append")
    // partition-column type inference may yield int — compare as long
    assert(sensor.select(col("batch_id").cast("long")).collect().head.getLong(0) == 7L)
    // a different batch lands in its own partition alongside
    Pipeline.writeMicroBatch(agg, batchId = 8L, dir)
    assert(spark.read.parquet(s"$dir/sensor_data").count() == 2)
  }

  test("jdbc micro-batch load is idempotent against embedded Derby (OP-12/13 relational twin)") {
    // In-JVM Derby (on the Spark classpath) stands in for the reference's
    // PostgreSQL (operations.rs:17-90): same Spark jdbc writer path, same
    // dialect machinery, zero external processes.
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val agg = Pipeline.batch(readings(Seq(
      ("AA:BB:CC:DD:EE:01", ts("2024-01-01 10:00:00"), 4860L, 21396L, 50044L, 4L, -4L, 1036L, 66L))), tagDim)
    Pipeline.writeJdbcMicroBatch(agg, batchId = 7L, url)
    Pipeline.writeJdbcMicroBatch(agg, batchId = 7L, url) // crash-replay of the same batch
    val props = new java.util.Properties
    val sensor = spark.read.jdbc(url, "sensor_data", props)
    assert(sensor.count() == 1, "replayed batch must delete-then-insert, not append")
    // a different batch appends alongside, in BOTH vertical sinks
    Pipeline.writeJdbcMicroBatch(agg, batchId = 8L, url)
    assert(spark.read.jdbc(url, "sensor_data", props).count() == 2)
    assert(spark.read.jdbc(url, "movement_data", props).count() == 2)
    // row content survives the relational roundtrip
    val r = sensor.collect().head
    assert(r.getAs[String]("mac") == "AA:BB:CC:DD:EE:01")
    assert(r.getAs[String]("name") == "Kitchen")
    assert(r.getAs[Double]("temperature") == 24.3)
  }

  test("dual sink writes both projections from one cached upstream") {
    val dir = SparkTestSession.tempDir("graft-dual-sink").toString
    val input = readings(Seq(
      ("AA:BB:CC:DD:EE:01", ts("2024-01-01 10:00:00"), 4860L, 21396L, 50044L, 4L, -4L, 1036L, 66L)))
    Pipeline.writeBatch(Pipeline.batch(input, tagDim), dir)
    val sensor = spark.read.parquet(s"$dir/sensor_data")
    val movement = spark.read.parquet(s"$dir/movement_data")
    assert(sensor.columns.toSeq ==
      Seq("mac", "temperature", "humidity", "pressure", "time", "name", "samples"))
    assert(movement.columns.toSeq ==
      Seq("mac", "acceleration_x", "acceleration_y", "acceleration_z",
        "movement_counter", "time", "name", "samples"))
    assert(sensor.count() == 1 && movement.count() == 1)
    val m = movement.collect().head
    assert(m.getAs[Int]("movement_counter") == 0) // single reading ⇒ delta 0
    assert(m.getAs[Double]("acceleration_y") == -0.004)
  }

  test("connect retry waits out a database restart (OP-14 connect twin, connection.rs:57-106)") {
    // The DB does not exist yet (create=false refuses); a "restarting
    // database" thread brings it up mid-retry. The connect must survive
    // the refused attempts and return the live connection.
    val name = "graftretry"
    val url = s"jdbc:derby:memory:$name"
    intercept[java.sql.SQLException] { // sanity: refused while down
      java.sql.DriverManager.getConnection(url)
    }
    val restarter = new Thread(() => {
      Thread.sleep(600)
      java.sql.DriverManager.getConnection(s"$url;create=true").close()
    })
    restarter.start()
    val t0 = System.nanoTime()
    val conn = Pipeline.connectWithRetry(url, attempts = 30, backoffMs = 200)
    try {
      assert(conn.isValid(2))
      assert((System.nanoTime() - t0) / 1e6 >= 400, "must have actually waited through refusals")
    } finally { conn.close(); restarter.join() }
    // bounded: attempts exhausted -> the LAST refusal propagates
    intercept[java.sql.SQLException] {
      Pipeline.connectWithRetry("jdbc:derby:memory:neverexists", attempts = 2, backoffMs = 10)
    }
  }
}
