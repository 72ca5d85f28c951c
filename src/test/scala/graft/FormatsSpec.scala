package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Pipeline
import graft.functions.Format5

/** Source-format interchange for the readings contract: the same
  * pipeline result must come back whether readings arrive as parquet,
  * JSON, or CSV. Binary payloads ride text formats hex-encoded (the
  * on-the-wire convention a collector would use); the decode-side
  * `unhex` restores `BinaryType` before the pipeline sees it. */
class FormatsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val tagDim = Seq(("AA:BB:CC:DD:EE:01", "Kitchen")).toDF("mac", "name")

  private def baseReadings: DataFrame =
    Seq(
      ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:00:00"), 4000L, 1L),
      ("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:10:00"), 5000L, 2L))
      .toDF("mac", "ts", "t", "m")
      .select(col("mac"), col("ts"),
        unhex(Format5.encodeHex(col("t"), lit(20000L), lit(50000L),
          lit(0L), lit(0L), lit(1000L), col("m"))).as("payload"))

  private def run(readings: DataFrame): Seq[String] =
    Pipeline.batch(readings, tagDim)
      .orderBy("mac", "time")
      .collect()
      .map(_.toString)
      .toSeq

  test("readings round-trip parquet ≡ json ≡ csv through the pipeline") {
    val dir = SparkTestSession.tempDir("graft-formats").toString
    val expected = run(baseReadings)
    assert(expected.nonEmpty)

    // parquet: binary column natively
    baseReadings.write.parquet(s"$dir/pq")
    assert(run(spark.read.parquet(s"$dir/pq")) == expected)

    // JSON + CSV: hex-encode the payload for the text wire format
    val asText = baseReadings.select(col("mac"), col("ts"), hex(col("payload")).as("payload_hex"))
    asText.write.json(s"$dir/js")
    val fromJson = spark.read
      .schema("mac STRING, ts TIMESTAMP, payload_hex STRING")
      .json(s"$dir/js")
      .select(col("mac"), col("ts"), unhex(col("payload_hex")).as("payload"))
    assert(run(fromJson) == expected)

    asText.write.option("header", "true").csv(s"$dir/csv")
    val fromCsv = spark.read
      .schema("mac STRING, ts TIMESTAMP, payload_hex STRING")
      .option("header", "true")
      .csv(s"$dir/csv")
      .select(col("mac"), col("ts"), unhex(col("payload_hex")).as("payload"))
    assert(run(fromCsv) == expected)
  }

  test("schema evolution: mergeSchema unifies old and new file generations") {
    // a long-lived at-rest table gains a column mid-life; readers must
    // see ONE unified schema with NULLs for pre-evolution files
    val dir = SparkTestSession.tempDir("graft-evolve").toString
    Seq(("AA", 1.0)).toDF("mac", "temperature").write.parquet(s"$dir/t")
    Seq(("BB", 2.0, 77L)).toDF("mac", "temperature", "battery_mv")
      .write.mode("append").parquet(s"$dir/t")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.sorted.toSeq == Seq("battery_mv", "mac", "temperature"))
    val rows = merged.orderBy("mac").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("battery_mv")),
      "pre-evolution rows must read the new column as NULL")
    assert(rows(1).getLong(rows(1).fieldIndex("battery_mv")) == 77L)
  }

  test("corrupt text records: PERMISSIVE quarantines, DROPMALFORMED drops (OP-05 at the source)") {
    // the reference drops malformed payloads rather than nulling them
    // (/root/reference/src/bluetooth/scanner.rs:36-45); at the SOURCE
    // layer the same policy is the reader's mode choice
    val dir = SparkTestSession.tempDir("graft-corrupt").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/in.json"),
      java.util.Arrays.asList(
        """{"mac":"AA","v":1}""",
        """{"mac":"BB","v":not-json}""",
        """{"mac":"CC","v":3}"""))
    // cache first: Spark refuses queries whose referenced columns are
    // ONLY the internal corrupt-record column on a raw file scan
    val permissive = spark.read
      .schema("mac STRING, v LONG, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .json(s"$dir/in.json")
      .cache()
    try {
      assert(permissive.count() == 3, "PERMISSIVE must keep every record")
      assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1,
        "the malformed record must be quarantined, not silently dropped")
    } finally permissive.unpersist()
    val dropped = spark.read
      .schema("mac STRING, v LONG")
      .option("mode", "DROPMALFORMED")
      .json(s"$dir/in.json")
    assert(dropped.collect().map(_.getString(0)).sorted.toSeq == Seq("AA", "CC"),
      "DROPMALFORMED must implement the reference's drop-not-null policy")
  }

  test("x04: the ORC scan carries pushed filters and a pruned schema") {
    // Build the plan the query builds; the date predicate must reach the
    // ORC reader (stripe-level min/max skipping at scale) and the scan
    // must read only the 3 referenced columns of 6.
    val df = SparkEntry.queries("x04_orc_source")(spark, "/root/testdata/sf0.001")
    assert(df.collect().nonEmpty) // drive so AQE's final plan is printable
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan orc"), s"expected an ORC file scan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"date range must reach the ORC reader:\n$plan")
    assert(plan.contains(
      "ReadSchema: struct<o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string>"),
      s"scan must read only the 3 referenced columns:\n$plan")
  }

  test("x06: the graft-avro V2 scan is pruned by the planner to referenced columns") {
    // x06 passes no schema and no projection: the provider infers the
    // 6-column writer schema from one container header, and Catalyst's
    // pruneColumns narrows the scan to the 3 referenced columns — which
    // become the avro READER schema inside the decoder. x05 supplies
    // those 3 columns as its schema and must reach the same scan.
    for (q <- Seq("x06_avro_v2", "x05_avro_source")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      assert(df.collect().nonEmpty)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BatchScan") && plan.contains("graft-avro"),
        s"$q: expected a V2 BatchScan of graft-avro:\n$plan")
      Seq("event_type", "value", "ts").foreach(c =>
        assert(plan.contains(c), s"$q: scan must carry $c:\n$plan"))
      Seq("props", "user_id", "event_id").foreach(c =>
        assert(!plan.contains(c),
          s"$q: unreferenced column $c must be pruned from the scan:\n$plan"))
    }
  }

  test("x05: avro roundtrip keeps µs timestamps, nulls, binary; reader schema prunes") {
    import org.apache.spark.sql.types._
    val dir = SparkTestSession.tempDir("graft-avro").toString
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00.123456"), "a",
        Array[Byte](1, 2, 3), Some(1.5)),
      (2L, Timestamp.valueOf("2024-01-01 10:00:00.000001"), "b",
        Array[Byte](), None)) // null double, empty bytes
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(rows.map(r =>
      org.apache.spark.sql.Row(r._1, r._2, r._3, r._4, r._5.orNull)).asJava,
      StructType.fromDDL(
        "id BIGINT, ts TIMESTAMP, tag STRING, blob BINARY, v DOUBLE"))
    graft.sources.AvroSource.write(df, dir)
    // full read-back: every value — including the two µs tails that a
    // millisecond mapping would destroy — survives the container format
    val back = spark.read.format("graft-avro").schema(df.schema).load(dir)
      .orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(back.map(_.getTimestamp(1).toString).toSeq ==
      Seq("2024-01-01 10:00:00.123456", "2024-01-01 10:00:00.000001"))
    assert(back(0).getAs[Array[Byte]]("blob").toSeq == Seq[Byte](1, 2, 3))
    assert(back(1).isNullAt(4) && back(0).getDouble(4) == 1.5)
    // projection: a 2-column reader schema decodes without the rest —
    // and in a DIFFERENT field order than written (avro resolves by name)
    val pruned = spark.read.format("graft-avro").schema("tag STRING, id BIGINT").load(dir)
      .orderBy("id").collect()
    assert(pruned.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L)))
  }

  test("x08: binaryFile glob prunes foreign objects before any byte is read") {
    import java.nio.file.{Files, Paths}
    val dir = SparkTestSession.tempDir("graft_binglob").toString
    Files.write(Paths.get(dir, "ev_1.bin"), Array[Byte](5, 1, 2))
    Files.write(Paths.get(dir, "ev_2.bin"), Array[Byte](5, 3, 4))
    // a multimodal estate is never homogeneous: sidecar manifests,
    // checksums, thumbnails live next to the blobs
    Files.write(Paths.get(dir, "manifest.json"), "{}".getBytes)
    Files.write(Paths.get(dir, "ev_3.txt"), Array[Byte](9))
    val got = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir)
    assert(got.count() === 2)
    // and the content column carries the exact bytes
    val bytes = got.orderBy("path").collect().map(_.getAs[Array[Byte]]("content").toSeq)
    assert(bytes.toSeq === Seq(Seq[Byte](5, 1, 2), Seq[Byte](5, 3, 4)))
  }
}
