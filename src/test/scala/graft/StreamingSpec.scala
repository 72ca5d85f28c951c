package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Pipeline
import graft.functions.Format5

/** Streaming variant of the interval loop (SURVEY §5 item 5, §7 step 5):
  * MemoryStream → 30-min event-time windows + watermark → foreachBatch
  * dual sink → graceful stop (OP-20). The late-data marker advances the
  * watermark so the first window finalizes and emits — the streaming
  * equivalent of the reference closing its buffer at interval end
  * (`/root/reference/src/main.rs:122-131`). */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("30-min window aggregates flow through the foreachBatch dual sink") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Timestamp, String)]
    val readings = ms.toDF().toDF("mac", "ts", "hex")
      .select(col("mac"), col("ts"), unhex(col("hex")).as("payload"))
    val tags = Seq(("AA:BB:CC:DD:EE:01", "Kitchen")).toDF("mac", "name")

    val dir = SparkTestSession.tempDir("graft-stream").toString
    val query = Pipeline.streaming(
      readings, tags,
      outDir = s"$dir/out", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0), watermark = "0 seconds")
    try {
      def hexFor(tempRaw: Long, mc: Long): String =
        "05" + f"$tempRaw%04X" + "4E20" + "C350" + "000000000000" + "FFFF" + f"$mc%02X" + "0000" + "000000000000"
      // window [10:00, 10:30): two readings
      ms.addData(
        ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:00:00"), hexFor(4000L, 10L)),
        ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:20:00"), hexFor(5000L, 20L)))
      query.processAllAvailable()
      // marker far past the window end — advances the watermark, closes it
      ms.addData(
        ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 12:00:00"), hexFor(4000L, 30L)))
      query.processAllAvailable()

      val sensor = spark.read.parquet(s"$dir/out/sensor_data")
        .filter(col("time") === lit(Timestamp.valueOf("2024-01-01 10:30:00")))
        .collect()
      assert(sensor.length == 1)
      val r = sensor.head
      assert(r.getAs[String]("mac") == "AA:BB:CC:DD:EE:01")
      assert(r.getAs[Double]("temperature") == 22.5) // avg(20.0, 25.0)
      assert(r.getAs[String]("name") == "Kitchen")
      assert(r.getAs[Int]("samples") == 2)
      val movement = spark.read.parquet(s"$dir/out/movement_data")
        .filter(col("time") === lit(Timestamp.valueOf("2024-01-01 10:30:00")))
        .collect()
      assert(movement.length == 1)
      assert(movement.head.getAs[Int]("movement_counter") == 10) // (20−10) mod 256
    } finally {
      query.stop()              // OP-20: graceful shutdown
      query.awaitTermination()
    }
  }

  test("streaming duplicate suppression: dropDuplicatesWithinWatermark (OP-02)") {
    // The reference pushes duplicate suppression into the BlueZ scanner
    // (`/root/reference/src/bluetooth/scanner.rs:126-135`); the streaming
    // analogue drops repeated (mac, seq) advertisements with BOUNDED
    // state — dedup keys are expired once the watermark passes them,
    // unlike a global dropDuplicates whose state grows forever.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Timestamp, Long)]
    val deduped = ms.toDF().toDF("mac", "ts", "seq")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("mac", "seq")
    val query = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // same advertisement re-received in-batch and across batches
      ms.addData(
        ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:00:00"), 7L),
        ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:00:05"), 7L))
      query.processAllAvailable()
      ms.addData(
        ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:00:10"), 7L), // dup, within watermark
        ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:01:00"), 8L)) // new seq
      query.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(2))).sorted.toSeq ==
        Seq(("AA:BB:CC:DD:EE:01", 7L), ("AA:BB:CC:DD:EE:01", 8L)),
        s"got ${rows.mkString(", ")}")
    } finally {
      query.stop(); query.awaitTermination()
      spark.sql("DROP TABLE IF EXISTS dedup_out")
    }
  }

  test("stream-stream join: purchases matched to prior views within 30 min") {
    def ts(s: String) = Timestamp.valueOf(s)
    // the streaming analogue of the AS-OF/q23 shape: two live streams,
    // inner-joined per user with a time-range condition; watermarks bound
    // BOTH sides' join state so it can be evicted — the shape that holds
    // at 100 TB/day, unlike an unbounded cache of either stream
    implicit val ctx = spark.sqlContext
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val views = MemoryStream[(Long, Long, Timestamp)]
    val p = purchases.toDF().toDF("p_user", "purchase_id", "pts")
      .withWatermark("pts", "0 seconds")
    val v = views.toDF().toDF("v_user", "view_id", "vts")
      .withWatermark("vts", "0 seconds")
    val joined = p.join(
      v,
      col("p_user") === col("v_user") &&
        col("vts") <= col("pts") &&
        col("vts") >= col("pts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("view_id"))
    val query = joined.writeStream
      .format("memory").queryName("ss_join").outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      views.addData(
        (1L, 100L, ts("2024-01-01 10:00:00")),
        (1L, 101L, ts("2024-01-01 09:00:00")), // outside the 30-min window
        (2L, 102L, ts("2024-01-01 10:05:00")))
      purchases.addData(
        (1L, 500L, ts("2024-01-01 10:10:00")),
        (3L, 501L, ts("2024-01-01 10:10:00"))) // no views for user 3
      query.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((500L, 100L)),
        s"only the in-window view of the same user matches, got $got")
    } finally {
      query.stop(); query.awaitTermination()
      spark.sql("DROP TABLE IF EXISTS ss_join")
    }
  }

  test("file source: readStream over a readings directory (production source path)") {
    val base = SparkTestSession.tempDir("graft-filestream").toString
    val tagDim = Seq(("AA:BB:CC:DD:EE:01", "Kitchen")).toDF("mac", "name")
    def hexFor(tempRaw: Long): String =
      "05" + f"$tempRaw%04X" + "4E20" + "C350" + "000000000000" + "FFFF" + "01" + "0000" + "000000000000"
    // batch-write readings files the way a collector drops them
    Seq(
      ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:00:00"), hexFor(4000L)),
      ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:20:00"), hexFor(5000L)),
      ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 12:00:00"), hexFor(4000L)))
      .toDF("mac", "ts", "hex")
      .select(col("mac"), col("ts"), unhex(col("hex")).as("payload"))
      .write.parquet(s"$base/in")
    val stream = spark.readStream
      .schema("mac STRING, ts TIMESTAMP, payload BINARY")
      .parquet(s"$base/in")
    val query = Pipeline.streaming(
      stream, tagDim, s"$base/out", s"$base/ckpt",
      trigger = Trigger.AvailableNow(), watermark = "0 seconds")
    try query.awaitTermination()
    finally { query.stop(); query.awaitTermination() }
    val sensor = spark.read.parquet(s"$base/out/sensor_data")
      .filter(col("time") === lit(Timestamp.valueOf("2024-01-01 10:30:00")))
      .collect()
    assert(sensor.length == 1)
    assert(sensor.head.getAs[Double]("temperature") == 22.5)
    assert(sensor.head.getAs[Int]("samples") == 2)
  }

  test("mid-batch jdbc crash replays exactly-once from the checkpoint (OP-14)") {
    // The fault the reference's 100×5 s insert-retry loop
    // (`/root/reference/src/database/connection.rs:52-134`) exists for:
    // the process dies PARTWAY through loading a batch into the
    // database. Here the crash is injected at the worst point —
    // after the writer's own-id DELETE and a PARTIAL sensor_data
    // insert, before movement_data is touched — so the database holds
    // a torn batch when incarnation 1 dies. Incarnation 2 restarts
    // from the SAME checkpoint: the uncommitted batch replays, the
    // delete-then-insert clears its own orphans, and the final tables
    // must equal the batch dataflow exactly (q44's restart recovery
    // composed with q46's relational sink, end to end).
    import java.nio.file.{Files, Path}
    import java.nio.file.attribute.FileTime
    val root = SparkTestSession.tempDir("graft-midbatch")
    val src = Files.createDirectories(root.resolve("src"))
    val ckp = root.resolve("ckp").toString
    val url = s"jdbc:derby:memory:graftmb_${root.getFileName};create=true"
    val props = new java.util.Properties
    val tagDim = Seq(("AA:BB:CC:DD:EE:01", "Kitchen")).toDF("mac", "name")

    def hexFor(tempRaw: Long, mc: Long): org.apache.spark.sql.Column =
      Format5.encodeHex(lit(tempRaw), lit(20000L), lit(50000L),
        lit(0L), lit(0L), lit(0L), lit(mc))
    val readings = Seq(
      ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:00:00"), 4000L, 10L),
      ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:20:00"), 5000L, 20L),
      ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:40:00"), 4500L, 30L))
      .toDF("mac", "ts", "raw", "mc")
      .select(col("mac"), col("ts"),
        unhex(Format5.encodeHex(col("raw"), lit(20000L), lit(50000L),
          lit(0L), lit(0L), lit(0L), col("mc"))).as("payload"))
    // watermark-flush sentinels: NOT in the whitelist, so they advance
    // the watermark (tracked upstream of the semi-join) without adding
    // output groups
    def sentinel(ts: String) = spark.range(1).select(
      lit("AA:BB:CC:DD:EE:99").as("mac"),
      to_timestamp(lit(ts)).as("ts"),
      unhex(hexFor(0L, 0L)).as("payload"))
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = root.resolve(s"stage_$name")
      df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing.filter(_.toString.endsWith(".parquet")).findFirst.get
      finally listing.close()
      Files.copy(part, src.resolve(s"$name.parquet"))
      Files.setLastModifiedTime(src.resolve(s"$name.parquet"), FileTime.fromMillis(mtimeMs))
    }
    stage(readings, "batch0", 1000000000000L)
    stage(sentinel("2030-01-01 00:00:00"), "batch1", 1000000060000L)
    stage(sentinel("2030-02-01 00:00:00"), "batch2", 1000000120000L)

    var injected = false
    var tornBatchId = -1L
    def incarnation(crash: Boolean): Unit = {
      val stream = spark.readStream
        .schema("mac STRING, ts TIMESTAMP, payload BINARY")
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
      val agg = Pipeline.batch(stream.withWatermark("ts", "1 minute"), tagDim)
      val query = agg.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          if (crash && !injected && df.count() > 0) {
            injected = true; tornBatchId = id
            // the torn commit: own-id DELETE is a no-op first time,
            // then ONE sensor row lands and the process "dies" —
            // movement_data never sees the batch
            Pipeline.writeJdbc(
              Pipeline.sensorProjection(df).limit(1).withColumn("batch_id", lit(id)),
              url, "sensor_data", props)
            throw new RuntimeException("injected mid-batch crash")
          }
          Pipeline.writeJdbcMicroBatch(df, id, url, props)
        }
        .start()
      query.awaitTermination()
    }

    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      incarnation(crash = true)
    }
    assert(e.getMessage.contains("injected mid-batch crash"))
    assert(injected, "the fault was never reached — test staged wrong data")
    // torn state is really in the database: the partial batch's orphan
    // row in sensor_data, nothing for it in movement_data
    val torn = spark.read.jdbc(url, "sensor_data", props)
      .filter(col("batch_id") === tornBatchId).count()
    assert(torn == 1L, s"expected exactly the 1 partial row, got $torn")
    assert(spark.read.jdbc(url, "movement_data", props)
      .filter(col("batch_id") === tornBatchId).count() == 0L)

    incarnation(crash = false) // restart over the same checkpoint

    val expected = Pipeline.batch(spark.read.parquet(src.toString + "/*.parquet"), tagDim)
    val expSensor = Pipeline.sensorProjection(expected).collect().map(_.toString).sorted
    val gotSensor = spark.read.jdbc(url, "sensor_data", props)
      .drop("batch_id")
      .select("mac", "temperature", "humidity", "pressure", "time", "name", "samples")
      .collect().map(_.toString).sorted
    assert(gotSensor.toSeq == expSensor.toSeq,
      s"sensor_data after recovery != batch dataflow: got ${gotSensor.mkString("; ")}")
    val expMove = Pipeline.movementProjection(expected).collect().map(_.toString).sorted
    val gotMove = spark.read.jdbc(url, "movement_data", props)
      .drop("batch_id")
      .select("mac", "acceleration_x", "acceleration_y", "acceleration_z",
        "movement_counter", "time", "name", "samples")
      .collect().map(_.toString).sorted
    assert(gotMove.toSeq == expMove.toSeq,
      s"movement_data after recovery != batch dataflow: got ${gotMove.mkString("; ")}")
    // exactly-once, stated directly: one row per (mac, window)
    assert(spark.read.jdbc(url, "sensor_data", props)
      .groupBy("mac", "time").count().filter(col("count") > 1).count() == 0L)
  }

  test("replay reconstruction RESUMES over the kept checkpoint with identical rows") {
    // The per-JVM run-root cache (Core.Replay) means a second
    // construction of any replay query resumes the stream — AvailableNow
    // finds every staged file committed, drains zero batches, and the
    // sink already holds the result. Pin that the resumed read equals
    // the cold one for every parquet-sink stream shape plus the
    // foreachBatch JDBC sink: windowed aggregation (q33, q57),
    // flatMapGroupsWithState (q36, q43),
    // watermarked dedup (q45), stream-stream inner and outer joins
    // (q39, q42), stream-static join (q40), JDBC (q46).
    val sf = "/root/testdata/sf0.001"
    for (q <- Seq("q33_stream_replay", "q46_stream_jdbc", "q36_stream_sessions",
        "q43_stream_tws", "q45_stream_dedup", "q57_stream_hopping",
        "q39_stream_join", "q40_stream_static", "q42_stream_outer_join")) {
      val cold = SparkEntry.queries(q)(spark, sf).collect().map(_.toString).sorted
      val resumed = SparkEntry.queries(q)(spark, sf).collect().map(_.toString).sorted
      assert(cold.nonEmpty, s"$q cold run produced no rows")
      assert(resumed.toSeq == cold.toSeq,
        s"$q resume diverged: cold=${cold.length} rows, resumed=${resumed.length}")
    }
  }

  test("q43 streams through q36's flatMapGroupsWithState sessionizer") {
    // the stateful operator is read back from q43's own checkpoint
    // (Spark's state-metadata source), so the name cannot drift from
    // the plan the stream actually ran
    val sf = "/root/testdata/sf0.001"
    assert(SparkEntry.queries("q43_stream_tws")(spark, sf).collect().nonEmpty)
    val pidHex = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val ckp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_run_${pidHex}_q43_${graft.queries.Core.Replay.pathKey(sf)}", "ckp")
    val ops = spark.read.format("state-metadata").load(ckp.toString)
      .select("operatorName").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("flatMapGroupsWithState"), s"q43's state operators: $ops")
  }
}
