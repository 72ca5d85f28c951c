package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Num.oround
import graft.ops.Artifacts

/** Non-parquet SOURCE formats — the engine's answer to "my corpus
  * arrives as CSV exports / JSONL crawl dumps, not parquet":
  *
  *  - x01: schema'd CSV scan. The artifact is written from the parquet
  *    table, then read back with an EXPLICIT DDL schema
  *    (never inferSchema — on a 100 TB lake, inference is a full extra
  *    pass over the data before the real one, and a silently wrong
  *    type on row 10^12). The oracle aggregates the same rows straight
  *    from parquet, so the roundtrip pins the text codec: quoting,
  *    header handling, and numeric parsing.
  *  - x02: JSON-lines scan with an explicit schema AND an explicit
  *    `timestampFormat` carrying MICROSECOND precision — Spark's default
  *    JSON timestamp pattern keeps milliseconds only, which silently
  *    truncates event times on write (caught by this query's oracle:
  *    max(ts) must equal the parquet value to the microsecond).
  *
  * Both queries read the text artifact with the DataFrame reader, so
  * partitioned parallel scan, predicate evaluation and column pruning
  * behave exactly as on parquet (minus footer statistics — which is the
  * point: the queries document what text formats COST at scale; convert
  * to parquet early).
  *
  * Every converted copy the queries read (x01, x02, x04–x08, x10, x11) is
  * written once per content stamp of its source table and published by
  * rename ([[graft.ops.Artifacts.dir]]), so a restaged sf dir gets a
  * fresh copy and a build that dies midway is never read.
  */
object FormatQueries {

  /** Microsecond-precision ISO timestamps — what the default JSON
    * pattern (millis) would truncate. */
  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** X1 — CSV roundtrip: customer → headered CSV → explicit-schema scan
    * → per-segment account rollup. Oracle reads the original parquet. */
  private def x01(s: SparkSession, d: String): DataFrame = {
    val path = Artifacts.dir(s, "customer_csv", "1", d, Seq("customer.parquet")) { p =>
      customer(s, d).write.option("header", "true").csv(p)
    }
    s.read
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey BIGINT, " +
        "c_acctbal DOUBLE, c_mktsegment STRING")
      .option("header", "true")
      .csv(path)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_customers"),
        oround(sum("c_acctbal"), 2).as("sum_acctbal"),
        oround(avg("c_acctbal"), 2).as("avg_acctbal"))
      .orderBy("segment")
  }

  private val ox01 =
    """SELECT c_mktsegment AS segment, count(*) AS n_customers,
      |  ROUND(sum(c_acctbal), 2) AS sum_acctbal,
      |  ROUND(avg(c_acctbal), 2) AS avg_acctbal
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** X2 — JSONL roundtrip: events → JSON lines (µs timestamps) →
    * explicit-schema scan → per-type rollup with max event time. The
    * max(ts) column is the precision check: a lossy timestamp format
    * fails the oracle by up to 999 µs. */
  private def x02(s: SparkSession, d: String): DataFrame = {
    val path = Artifacts.dir(s, "events_jsonl", "1", d, Seq("events.parquet")) { p =>
      events(s, d).write.option("timestampFormat", TsFmt).json(p)
    }
    s.read
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      .option("timestampFormat", TsFmt)
      .json(path)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        oround(sum("value"), 2).as("sum_value"),
        max("ts").as("max_ts"))
      .orderBy("event_type")
  }

  private val ox02 =
    """SELECT event_type, count(*) AS n, ROUND(sum(value), 2) AS sum_value,
      |  max(ts) AS max_ts
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** X3 — REGEX field extraction: the semi-structured parsing step for
    * sources that are neither columnar nor JSON (log lines, crawl
    * metadata). `regexp_extract` pulls the numeric id out of the
    * source tag; `regexp_extract_all` counts pattern hits per document
    * — both stay narrow per-row column expressions (codegen'd, no
    * UDF), so the parse pass is scan-bound and the only shuffle is the
    * |sources|-row rollup. */
  private def x03(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        regexp_extract(col("source"), "src(\\d+)", 1).cast("bigint").as("src_num"),
        size(regexp_extract_all(col("text"), lit("\\b(s[a-z]+)"), lit(1))).as("n_s"))
      .groupBy("src_num")
      .agg(count(lit(1)).as("n_docs"), sum("n_s").as("n_s_words"))
      .orderBy("src_num")

  private val ox03 =
    """SELECT regexp_extract(source, 'src(\d+)', 1)::BIGINT AS src_num,
      |  count(*) AS n_docs,
      |  sum(len(regexp_extract_all(text, '\b(s[a-z]+)', 1)))::BIGINT AS n_s_words
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** X4 — ORC roundtrip: orders → ORC → filtered scan → per-priority
    * rollup. Unlike the text formats above, ORC is columnar WITH footer
    * statistics, so this is the one non-parquet source where predicate
    * pushdown and column pruning work exactly as on parquet: the
    * `o_orderdate` range predicate reaches the reader as PushedFilters
    * and prunes stripes by min/max before any row decodes
    * ([[graft.FormatsSpec]] asserts it), and ReadSchema carries 3 of 9
    * columns. The engine answer to "my lake has an ORC estate": read it
    * natively at full scan efficiency, no convert-first pass needed. */
  private def x04(s: SparkSession, d: String): DataFrame = {
    val path = Artifacts.dir(s, "orders_orc", "1", d, Seq("orders.parquet")) { p =>
      orders(s, d).write.orc(p)
    }
    s.read.orc(path)
      .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        oround(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  private val ox04 =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  ROUND(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** X5 — AVRO roundtrip: the FULL events table → avro container files
    * (one per partition, timestamps as `timestamp-micros`) → scan with
    * an explicit 3-of-6-column schema through the `graft-avro` V2
    * connector ([[graft.sources.AvroV2]]) → per-type rollup. The
    * supplied schema becomes the avro READER schema inside the decoder,
    * so the projection prunes at the source like ReadSchema does on
    * parquet — and `max_ts` pins the microsecond roundtrip exactly as
    * x02 does for JSONL. No spark-avro module on this classpath
    * (FormatsSpec asserts the mapping table and the pruned scan). */
  private def x05(s: SparkSession, d: String): DataFrame =
    s.read.format("graft-avro").schema("event_type STRING, ts TIMESTAMP, value DOUBLE")
      .load(eventsAvro(s, d))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        oround(avg("value"), 2).as("avg_value"),
        max("ts").as("max_ts"))
      .orderBy("event_type")

  /** The events table as avro container files, one artifact for x05/x06. */
  private def eventsAvro(s: SparkSession, d: String): String =
    Artifacts.dir(s, "events_avro", "1", d, Seq("events.parquet")) { p =>
      graft.sources.AvroSource.write(events(s, d), p)
    }

  private val ox05 =
    """SELECT event_type, count(*) AS n, ROUND(avg(value), 2) AS avg_value,
      |  max(ts) AS max_ts
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** X6 — the same avro estate through the same connector with NO
    * schema: it is INFERRED from one container header (bytes, never a
    * data pass — the one inference the x01 rule permits), and column
    * pruning is driven by the PLANNER alone (`pruneColumns` → avro
    * reader schema; FormatsSpec asserts the BatchScan decodes 3 of 6
    * columns), one input partition per file. `min(ts)` instead of
    * x05's max so the two queries cannot share a cached result by
    * accident. */
  private def x06(s: SparkSession, d: String): DataFrame =
    s.read.format("graft-avro").load(eventsAvro(s, d))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        oround(avg("value"), 2).as("avg_value"),
        min("ts").as("min_ts"))
      .orderBy("event_type")

  private val ox06 =
    """SELECT event_type, count(*) AS n, ROUND(avg(value), 2) AS avg_value,
      |  min(ts) AS min_ts
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** X7 — hive-partitioned parquet layout: documents written
    * `partitionBy("lang")` (the write-side clustering every 100 TB
    * estate does on its highest-selectivity predicate column), read
    * back with a `lang = 'en'` filter. The point is the PLAN: the
    * predicate must land in `PartitionFilters` — directory-level
    * pruning that never opens non-matching files — not in
    * `PushedFilters` row-group stats (asserted in
    * PlanAssertionsSpec). Oracle reads the original unpartitioned
    * table; identical results prove partition columns survive the
    * roundtrip (lang leaves the file bodies and comes back from
    * directory names). */
  private def x07(s: SparkSession, d: String): DataFrame = {
    val path = Artifacts.dir(s, "docs_hive", "1", d, Seq("documents.parquet")) { p =>
      documents(s, d).write.partitionBy("lang").parquet(p)
    }
    s.read.parquet(path)
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"))
      .orderBy("source")
  }

  private val ox07 =
    """SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |FROM documents WHERE lang = 'en'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** X8 — `binaryFile` source: the estate shape of a multimodal lake
    * (one opaque blob per object — images, audio, serialized tensors)
    * read DISTRIBUTED by Spark's binary-file reader: each task gets a
    * partition of files, `pathGlobFilter` prunes non-matching objects
    * before any byte is read, and the (path, length, content) schema
    * feeds the same decode plumbing as the m-queries. The staged
    * artifact is one 24-byte format-5 payload file per sampled event
    * (driver-side FIXTURE write of ≤|events|/100 small files — staging,
    * not dataflow); the oracle re-derives every byte from the events
    * parquet through the shared m03 encode, so filename→key extraction,
    * byte length and full content roundtrip are all pinned. At 100 TB
    * the same plan reads billions of objects with no driver
    * involvement — and the documented next step is compacting small
    * blobs into parquet `binary` columns (m02's shape) precisely
    * because per-file open cost dominates small-object estates. */
  private def x08(s: SparkSession, d: String): DataFrame = {
    val path = Artifacts.dir(s, "events_bin", "1", d, Seq("events.parquet")) { p =>
      Files.createDirectories(Paths.get(p))
      val rows = events(s, d)
        .filter(
          get_json_object(col("props"), "$.k").isNotNull &&
            col("value").isNotNull && col("user_id").isNotNull &&
            pmod(col("event_id"), lit(100L)) === 0L)
        .select(col("event_id"),
          unhex(MultimodalQueries.syntheticPayloadHex).as("payload"))
        .collect()
      rows.foreach { r =>
        Files.write(
          Paths.get(p, s"ev_${r.getLong(0)}.bin"), r.getAs[Array[Byte]](1))
      }
    }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(path)
      .select(
        regexp_extract(col("path"), "ev_(\\d+)\\.bin", 1)
          .cast("bigint").as("event_id"),
        col("length").as("n_bytes"),
        hex(col("content")).as("payload_hex"))
      .orderBy("event_id")
  }

  private val ox08 =
    """WITH enc AS (SELECT event_id,
      |  '05'
      |   || lpad(to_hex(((round(value*200)::BIGINT % 65536) + 65536) % 65536), 4, '0')
      |   || lpad(to_hex((json_extract(props,'$.k')::BIGINT * 400) % 65536), 4, '0')
      |   || lpad(to_hex((user_id * 100) % 65536), 4, '0')
      |   || lpad(to_hex((((event_id % 2001) - 1000) + 65536) % 65536), 4, '0')
      |   || lpad(to_hex((((event_id % 1999) - 999) + 65536) % 65536), 4, '0')
      |   || lpad(to_hex((((event_id % 997) - 498) + 65536) % 65536), 4, '0')
      |   || 'FFFF' || lpad(to_hex(event_id % 256), 2, '0') || '0000' || '000000000000' AS h
      |  FROM events
      |  WHERE event_id % 100 = 0 AND json_extract(props,'$.k') IS NOT NULL
      |    AND value IS NOT NULL AND user_id IS NOT NULL)
      |SELECT event_id, (len(h) // 2)::BIGINT AS n_bytes, upper(h) AS payload_hex
      |FROM enc ORDER BY event_id""".stripMargin

  /** X9 — XML field extraction via `from_xml`: the fourth
    * semi-structured codec after JSON (x02/m01), regex (x03) and the
    * str_to_map config parse (q11) — feeds, sitemaps and legacy
    * enterprise exports still arrive as XML. The document is built from
    * event fields (attribute + three elements), parsed back with an
    * EXPLICIT struct schema (attributes surface under the `_` prefix;
    * never schema_of_xml on a lake — same full-extra-pass argument as
    * x01's inferSchema), and aggregated. A malformed document yields a
    * null struct whose group would fail the oracle, so the roundtrip
    * pins escaping, attribute handling and numeric parsing end to end;
    * the parse is a narrow per-row projection, scan-bound at any
    * scale. */
  private def x09(s: SparkSession, d: String): DataFrame = {
    val xml = concat(
      lit("<e id=\""), col("event_id"), lit("\"><t>"), col("event_type"),
      lit("</t><u>"), col("user_id"), lit("</u><v>"), col("value"),
      lit("</v></e>"))
    events(s, d)
      .filter(col("event_id").isNotNull && col("event_type").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull)
      .select(from_xml(xml,
        org.apache.spark.sql.types.StructType.fromDDL(
          "_id BIGINT, t STRING, u BIGINT, v DOUBLE")).as("x"))
      .groupBy(col("x.t").as("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count_distinct(col("x.u")).as("n_users"),
        oround(sum(col("x.v")), 2).as("sum_value"),
        max(col("x._id")).as("max_id"))
      .orderBy("event_type")
  }

  private val ox09 =
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
      |  ROUND(sum(value), 2) AS sum_value, max(event_id) AS max_id
      |FROM events
      |WHERE event_id IS NOT NULL AND event_type IS NOT NULL
      |  AND user_id IS NOT NULL AND value IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** X10 — SCHEMA EVOLUTION across ingest batches: batch 1 lands
    * without `o_orderstatus`, batch 2 adds it — the single most common
    * estate mutation (a producer ships a new field mid-stream). The
    * batches are hive-style `batch=N` partitions of one dataset;
    * `mergeSchema` unifies the two file schemas and pre-evolution rows
    * surface the added column as NULL — the census pins that the
    * merged read neither drops rows nor mis-aligns columns. At 100 TB
    * the merge cost is footer-only (per-FILE schema union, no data
    * pass); the lesson the query documents is to keep evolution
    * ADDITIVE — renames/type-changes need a rewrite, added nullable
    * columns are free. Oracle: the same census straight off the
    * original orders table with the batch rule re-applied. */
  private def x10(s: SparkSession, d: String): DataFrame = {
    val path = Artifacts.dir(s, "orders_evo", "1", d, Seq("orders.parquet")) { p =>
      val o = orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.parquet(p + "/batch=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .write.parquet(p + "/batch=2")
    }
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy(coalesce(col("o_orderstatus"), lit("<pre-evolution>")).as("status"))
      .agg(
        count(lit(1)).as("n_orders"),
        oround(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("status")
  }

  private val ox10 =
    """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
      |       ELSE '<pre-evolution>' END AS status,
      |  count(*) AS n_orders, ROUND(sum(o_totalprice), 2) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** X11 — CORRUPT-RECORD handling: a crawl/export dump where some
    * lines are not valid JSON (every 10th event here, deterministically
    * by event_id). PERMISSIVE read with an explicit
    * `_corrupt_record` column: bad lines surface as (nulls, raw-text)
    * rows instead of killing the job (FAILFAST) or silently vanishing
    * (DROPMALFORMED) — at 100 TB, failing a 6-hour scan on line 10^12
    * or losing rows unaccounted are both unacceptable; the census IS
    * the data-quality contract (quarantine count + valid-row stats).
    * The corrupt column must be referenced alongside real columns
    * (Spark refuses corrupt-only projections over JSON). Oracle: the
    * corruption rule re-applied to the original events table. */
  private def x11(s: SparkSession, d: String): DataFrame = {
    val path = Artifacts.dir(s, "events_corrupt", "1", d, Seq("events.parquet")) { p =>
      events(s, d)
        .select(
          when(col("event_id") % 10 === 0, lit("{\"event_id\": oops"))
            .otherwise(to_json(struct(col("event_id"), col("value"))))
            .as("line"))
        .write.text(p)
    }
    s.read
      .schema("event_id BIGINT, value DOUBLE, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        count(col("event_id")).as("n_valid"),
        oround(max(when(col("_corrupt_record").isNull, col("value"))), 4)
          .as("max_valid_value"))
  }

  private val ox11 =
    """SELECT count(*) AS n_lines,
      |  sum(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_corrupt,
      |  sum(CASE WHEN event_id % 10 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_valid,
      |  ROUND(max(CASE WHEN event_id % 10 <> 0 THEN value END), 4) AS max_valid_value
      |FROM events""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("x01_csv_source", x01, Some(ox01)),
    QueryDef("x02_jsonl_source", x02, Some(ox02)),
    QueryDef("x03_regex_extract", x03, Some(ox03)),
    QueryDef("x04_orc_source", x04, Some(ox04)),
    QueryDef("x05_avro_source", x05, Some(ox05)),
    QueryDef("x06_avro_v2", x06, Some(ox06)),
    QueryDef("x07_hive_partitions", x07, Some(ox07)),
    QueryDef("x08_binary_files", x08, Some(ox08)),
    QueryDef("x09_xml_parse", x09, Some(ox09)),
    QueryDef("x10_schema_evolution", x10, Some(ox10)),
    QueryDef("x11_corrupt_records", x11, Some(ox11)))
}
