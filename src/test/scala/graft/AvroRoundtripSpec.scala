package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property roundtrip for [[graft.sources.AvroSource.write]] + the
  * `graft-avro` V2 connector: generated rows across every supported
  * type — including the adversarial corners (empty strings and byte
  * arrays, nulls in every nullable slot, negative epochs, sub-second
  * timestamp tails) — must survive write → read value-exact, with the
  * caller's schema and with the schema inferred from the files. */
class AvroRoundtripSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("l", LongType, nullable = true),
    StructField("i", IntegerType, nullable = true),
    StructField("d", DoubleType, nullable = true),
    StructField("f", FloatType, nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("b", BooleanType, nullable = true),
    StructField("bin", BinaryType, nullable = true),
    StructField("ts", TimestampType, nullable = true)))

  private def opt[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(4 -> g.map(_.asInstanceOf[Any]), 1 -> Gen.const(null))

  private val rowGen: Gen[Seq[Any]] = for {
    l <- opt(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2))
    i <- opt(Gen.chooseNum(Int.MinValue, Int.MaxValue))
    d <- opt(Gen.chooseNum(-1e12, 1e12))
    f <- opt(Gen.chooseNum(-1e6f, 1e6f))
    s <- opt(Gen.oneOf(Gen.const(""), Gen.alphaNumStr, Gen.const("täßt 中文")))
    b <- opt(Gen.oneOf(true, false))
    bin <- opt(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    // ±~50 years around the epoch with a µs tail — negative epochs
    // exercise the floorDiv/floorMod split of the expected values
    us <- opt(Gen.chooseNum(-1600000000000000L, 1600000000000000L))
  } yield Seq(l, i, d, f, s, b, bin,
    us match {
      case null => null
      case micros: Long =>
        val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        t
    })

  private val rows: Seq[Row] =
    Gen.listOfN(120, rowGen)(Gen.Parameters.default, org.scalacheck.rng.Seed(11L))
      .get.zipWithIndex.map { case (vs, i) => Row.fromSeq(i.toLong +: vs) }

  private def canon(r: Row): Seq[Any] =
    r.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case v => v
    }

  test("write -> read roundtrips every supported type, nulls and corners included") {
    import scala.jdk.CollectionConverters._
    val dir = SparkTestSession.tempDir("graft-avro-prop").toString
    val df = spark.createDataFrame(rows.asJava, schema).repartition(3)
    graft.sources.AvroSource.write(df, dir)
    val expect = rows.map(canon).sortBy(_.head.asInstanceOf[Long])

    val viaSchema = spark.read.format("graft-avro").schema(schema).load(dir)
      .orderBy("id").collect().map(canon).toSeq
    assert(viaSchema == expect, "V2 connector read (caller's schema) must roundtrip exactly")

    val viaV2 = spark.read.format("graft-avro").load(dir)
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .orderBy("id").collect().map(canon).toSeq
    assert(viaV2 == expect, "V2 connector read (inferred schema) must roundtrip exactly")
  }

  // --- task-commit protocol (attempt-unique temp + rename) ---

  private val tinySchema = StructType(Seq(
    StructField("id", LongType, nullable = false)))

  private def tinyDf(n: Int, parts: Int) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      (0L until n).map(Row(_)).asJava, tinySchema).repartition(parts)
  }

  private def readTiny(dir: String) =
    spark.read.format("graft-avro").schema(tinySchema).load(dir)

  test("re-writing a directory clears stale partitions from a wider prior job") {
    val dir = SparkTestSession.tempDir("graft-avro-commit1").toString
    graft.sources.AvroSource.write(tinyDf(30, 5), dir)
    graft.sources.AvroSource.write(tinyDf(10, 2), dir)
    // local FS adds hidden .crc checksum twins — only visible files count
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted.toSeq
    assert(files == Seq("part-00000.avro", "part-00001.avro"),
      s"stale part files must not survive an overwrite, got $files")
    val got = readTiny(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 10L), s"got $got")
  }

  test("a failed attempt leaves no temp garbage and no truncated part file") {
    import scala.jdk.CollectionConverters._
    val dir = SparkTestSession.tempDir("graft-avro-commit2").toString
    val poisoned = spark.createDataFrame(
      spark.sparkContext.parallelize(0L until 20L, 2).mapPartitions { it =>
        it.map { i =>
          if (i == 15L) throw new RuntimeException("poisoned row")
          Row(i)
        }
      }, tinySchema)
    intercept[org.apache.spark.SparkException] {
      graft.sources.AvroSource.write(poisoned, dir)
    }
    val leftover = new java.io.File(dir).listFiles().map(_.getName).toSeq
    assert(!leftover.exists(_.startsWith("_tmp-")),
      s"failed attempts must delete their temp file, got $leftover")
    // whatever partitions DID commit must be complete, readable containers
    val survivors = readTiny(dir)
      .collect().map(_.getLong(0)).toSeq
    assert(survivors.forall(i => i >= 0 && i < 20 && i != 15))
    // and a fresh write over the same directory fully recovers it
    graft.sources.AvroSource.write(tinyDf(6, 2), dir)
    val got = readTiny(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 6L), s"got $got")
  }

  test("orphan _tmp files are invisible to readers (hidden-file filter)") {
    val dir = SparkTestSession.tempDir("graft-avro-commit3").toString
    graft.sources.AvroSource.write(tinyDf(8, 2), dir)
    // a truncated container a crashed attempt might leave behind
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_tmp-part-00099-attempt-999.avro"),
      Array[Byte](0x4f, 0x62, 0x6a, 0x01)) // "Obj\1" magic, then nothing
    val viaSchema = readTiny(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSchema == (0L until 8L), s"got $viaSchema")
    val viaInferred = spark.read.format("graft-avro").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaInferred == (0L until 8L), s"got $viaInferred")
  }
}
