package graft.examples

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.Engine
import graft.etl.Pipeline
import graft.functions.Format5

/** Example: drive the reference-parity pipeline end-to-end through the
  * public API — synthesize format-5 readings, run
  * whitelist → decode → window → aggregate → enrich, write the dual sink.
  *
  * Usage: `sbt "runMain graft.examples.PipelineDemo /tmp/graft-demo"`
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-demo")
    val spark = Engine.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val tags = Seq(
      ("AA:BB:CC:DD:EE:01", "Kitchen"),
      ("AA:BB:CC:DD:EE:02", "Sauna")).toDF("mac", "name")

    val readings = Seq(
      // (mac, ts, tempRaw, humRaw, pressRaw, axRaw, ayRaw, azRaw, movement)
      ("aa:bb:cc:dd:ee:01", Timestamp.valueOf("2024-01-01 10:00:00"), 4860L, 21396L, 50044L, 4L, -4L, 1036L, 250L),
      ("aa:bb:cc:dd:ee:01", Timestamp.valueOf("2024-01-01 10:10:00"), 4000L, 20000L, 50000L, 10L, 0L, 1000L, 3L),
      ("AA:BB:CC:DD:EE:02", Timestamp.valueOf("2024-01-01 10:05:00"), -2000L, 20000L, 50000L, 0L, 0L, 1000L, 7L),
      // not in the whitelist — dropped by the semi-join
      ("FF:00:00:00:00:00", Timestamp.valueOf("2024-01-01 10:01:00"), 4000L, 20000L, 50000L, 0L, 0L, 1000L, 1L))
      .toDF("mac", "ts", "t", "h", "p", "ax", "ay", "az", "m")
      .select(col("mac"), col("ts"),
        unhex(Format5.encodeHex(
          col("t"), col("h"), col("p"),
          col("ax"), col("ay"), col("az"), col("m"))).as("payload"))

    val agg = Pipeline.batch(readings, tags)
    println("=== enriched 30-min aggregates ===")
    agg.orderBy("mac", "time").show(truncate = false)

    Pipeline.writeBatch(agg, outDir)
    println(s"=== $outDir/sensor_data ===")
    spark.read.parquet(s"$outDir/sensor_data").show(truncate = false)
    println(s"=== $outDir/movement_data ===")
    spark.read.parquet(s"$outDir/movement_data").show(truncate = false)

    // edge cases: empty dimension drops everything; duplicate dimension rows
    // must not multiply readings through the semi-join
    println("empty-tags row count: " + Pipeline.batch(readings, tags.limit(0)).count())
    println("dup-tags samples: " + Pipeline.batch(readings, tags.unionByName(tags))
      .orderBy("mac").select("samples").collect().map(_.getInt(0)).mkString(","))

    // at-rest layout: date-partitioned aggregate store + pruned read-back
    graft.sources.Layout.writeDatePartitioned(agg, "time", s"$outDir/agg_by_day")
    val pruned = graft.sources.Layout.readPartitioned(spark, s"$outDir/agg_by_day")
      .filter(col("p_date") === "2024-01-01")
    println("partition-pruned day rows: " + pruned.count())
    println("pruned scan uses PartitionFilters: " +
      pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(p_date"))

    // multimodal: mapPartitions feature extraction over opaque blobs
    // (stubbed codec — see graft.multimodal.MediaFeatures)
    val media = graft.multimodal.MediaFeatures.fromDocuments(spark, "/root/testdata/sf0.001")
    println("=== media features (first 5) ===")
    graft.multimodal.MediaFeatures.extract(media)
      .orderBy("media_id").limit(5).show(truncate = false)

    // streaming variant: idempotent batch_id-partitioned dual sink
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(String, Timestamp, Array[Byte])]
      val stream = ms.toDF().toDF("mac", "ts", "payload")
      // per-run checkpoint dir: reusing one across runs would make the
      // recovered query demand MemoryStream batches this run never had
      val ckpt = java.nio.file.Files.createTempDirectory("graft-demo-ckpt")
      val q = graft.etl.Pipeline.streaming(
        stream, tags, s"$outDir/stream", ckpt.toString,
        trigger = Trigger.ProcessingTime(0), watermark = "0 seconds")
      try {
        val payload = readings.select("payload").collect().head.getAs[Array[Byte]](0)
        ms.addData(("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 10:00:00"), payload))
        q.processAllAvailable()
        ms.addData(("AA:BB:CC:DD:EE:01", Timestamp.valueOf("2024-01-01 12:00:00"), payload))
        q.processAllAvailable()
        println("=== streaming sink layout (batch_id partitions) ===")
        new java.io.File(s"$outDir/stream/sensor_data").listFiles()
          .map(_.getName).sorted.foreach(n => println(s"  $n"))
        spark.read.parquet(s"$outDir/stream/sensor_data").show(truncate = false)
      } finally {
        try { q.stop(); q.awaitTermination() }
        finally graft.ops.Artifacts.rmTree(ckpt)
      }
    }

    // SQL surface: registered views + the extension-registered function
    graft.Catalog.registerAll(spark, "/root/testdata/sf0.001")
    println("=== SQL surface ===")
    spark.sql(
      """SELECT event_type, count(*) n,
        |  format5_decode(unhex('0512FC5394C37C0004FFFC040CAC364200CDCBB8334C884F')).temperature t
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
      .show(truncate = false)
    spark.stop()
  }
}
