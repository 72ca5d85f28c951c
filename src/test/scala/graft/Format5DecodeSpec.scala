package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Format5

/** The native Catalyst expression (`format5_decode`) must be
  * indistinguishable from the composed-builtins decode on every input:
  * same values (incl. the BigDecimal rounding path), same drop semantics
  * (NULL ↔ filtered), codegen and interpreted paths alike. */
class Format5DecodeSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("native expression matches composed decode on 500 random payloads") {
    val rnd = new scala.util.Random(7)
    val cases = Seq.tabulate(500) { i =>
      (i.toLong,
        (rnd.nextInt(65536) - 32768).toLong, rnd.nextInt(65536).toLong,
        rnd.nextInt(65536).toLong, (rnd.nextInt(65536) - 32768).toLong,
        (rnd.nextInt(65536) - 32768).toLong, (rnd.nextInt(65536) - 32768).toLong,
        rnd.nextInt(256).toLong)
    }
    val payloads = cases
      .toDF("id", "t", "h", "p", "ax", "ay", "az", "m")
      .select(col("id"), unhex(Format5.encodeHex(
        col("t"), col("h"), col("p"), col("ax"), col("ay"), col("az"), col("m"))).as("payload"))

    val composed = payloads
      .select(Seq(col("id")) ++ Format5.decodeAll(col("payload")): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val native = payloads
      .select(col("id"), expr("format5_decode(payload)").as("dec"))
      .select(col("id"), col("dec.*"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap

    assert(native.size == 500)
    cases.foreach { case (id, _, _, _, _, _, _, _) =>
      assert(native(id) == composed(id), s"case $id: ${native(id)} vs ${composed(id)}")
    }
  }

  test("every raw 16-bit value decodes bit-identically to the composed chain") {
    // row r carries raw value r in every 16-bit field (the signed fields
    // read it as r's two's complement) and r mod 256 in the movement byte
    val payloads = spark.range(65536).select(
      col("id"),
      unhex(Format5.encodeHex(col("id"), col("id"), col("id"), col("id"), col("id"),
        col("id"), col("id"))).as("payload"))
    def bits(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map { r =>
        r.getLong(0) -> ((1 to 6).map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i))) :+
          r.getLong(7))
      }.toMap
    val composed = bits(payloads.select(col("id") +: Format5.decodeAll(col("payload")): _*))
    val native = bits(payloads
      .select(col("id"), expr("format5_decode(payload)").as("dec")).select("id", "dec.*"))
    assert(composed.size == 65536 && native.size == 65536)
    val fields = graft.plans.Format5Decode.schema.fieldNames
    val mismatches = (0L until 65536L).flatMap(r =>
      fields.indices.collect {
        case i if native(r)(i) != composed(r)(i) =>
          s"${fields(i)} raw $r: native ${native(r)(i)} composed ${composed(r)(i)}"
      })
    assert(mismatches.isEmpty, s"${mismatches.size} mismatches, first: ${mismatches.take(5)}")
  }

  test("Pipeline.decode drops lengths 23 and 25, tag != 5 and NULL; keeps valid") {
    val valid = "0512FC5394C37C0004FFFC040CAC364200CDCBB8334C884F"
    val decoded = graft.etl.Pipeline.decode(Seq(
      ("valid", valid),
      ("len23", valid.dropRight(2)),
      ("len25", valid + "00"),
      ("tag4", "04" + valid.drop(2)),
      ("tag0", "00" + valid.drop(2)),
      ("null", null: String))
      .toDF("mac", "h")
      .select(col("mac"), current_timestamp().as("ts"), unhex(col("h")).as("payload")))
    val rows = decoded.collect()
    assert(rows.map(_.getAs[String]("mac")).toSeq == Seq("valid"))
    assert(rows.head.getAs[Double]("temperature") == 24.3 &&
      rows.head.getAs[Long]("movement_counter") == 66L)
  }

  test("invalid payloads decode to NULL (drop-not-null via isNotNull)") {
    val rows = Seq(
      ("valid", "0512FC5394C37C0004FFFC040CAC364200CDCBB8334C884F"),
      ("wrong_tag", "0412FC5394C37C0004FFFC040CAC364200CDCBB8334C884F"),
      ("short", "0512FC"),
      ("empty", ""))
      .toDF("label", "h")
      .select(col("label"), expr("format5_decode(unhex(h))").as("dec"))
      .collect()
      .map(r => r.getString(0) -> (r.get(1) != null))
      .toMap
    assert(rows == Map("valid" -> true, "wrong_tag" -> false, "short" -> false, "empty" -> false))
  }

  test("null input yields null output") {
    val r = Seq(Tuple1.apply(null: Array[Byte])).toDF("payload")
      .select(expr("format5_decode(payload)").as("dec"))
      .collect()
    assert(r.head.get(0) == null)
  }

  test("published test vector through SQL function registration") {
    val r = spark.sql(
      "SELECT format5_decode(unhex('0512FC5394C37C0004FFFC040CAC364200CDCBB8334C884F')) AS d")
      .select("d.temperature", "d.humidity", "d.pressure", "d.movement_counter")
      .collect().head
    assert(r.getDouble(0) == 24.3 && r.getDouble(1) == 53.49 &&
      r.getDouble(2) == 1000.44 && r.getLong(3) == 66L)
  }
}

