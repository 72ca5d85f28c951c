package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._
import graft.functions.Num.oround
import graft.functions.Format5

/** Multimodal-column family: typed JSON access, opaque-binary metadata
  * extraction, the format-5 binary sensor decode (OP-06 —
  * `/root/reference/src/bluetooth/scanner.rs:35-83`) and fixed-size
  * frame sampling.
  *
  * The container has no image/audio codecs, so the "decode" steps here
  * are deterministic byte-level extractions (length, hashes, header
  * fields, frame chunks) — but the Spark-side plumbing is the real thing:
  * `BinaryType` columns, codegen'd expressions (substring/hex/conv on
  * binary), schema'd `from_json`, and per-row narrow plans that at 100 TB
  * run one pass with no shuffle before the final bounded aggregate.
  */
object MultimodalQueries {

  /** M1 — schema'd JSON access: ONE `from_json` parse serving multiple
    * key extractions (vs per-key get_json_object re-parsing — the
    * difference is a full extra parse of every props string per key at
    * scale). Missing keys arrive as typed nulls. */
  private def m01(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("tag", StringType)))
    events(s, d)
      .select(col("event_id"), from_json(col("props"), schema).as("j"))
      .select(col("event_id"), col("j.k").as("k"), col("j.tag").as("tag"))
      .orderBy("event_id")
      .limit(100)
  }

  /** M2 — opaque-binary metadata: byte length, content hash, first byte.
    * The text column stands in for an image/audio blob; the operations
    * (length/md5/header byte on `BinaryType`) are the real multimodal
    * plumbing. */
  private def m02(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("content_hash"),
        ascii(substring(col("text"), 1, 1)).as("first_byte"))
      .orderBy("doc_id")
      .limit(100)

  /** Shared synthetic payload for M3/M5 — ONE definition so the
    * native-vs-composed equivalence the pair proves can never drift on
    * the encode side. Every 16-bit field wraps mod 65536 (hex4's pmod),
    * mirrored in the oracle. */
  private[queries] def syntheticPayloadHex = Format5.encodeHex(
    tempRaw = oround(col("value") * 200, 0).cast("long"),
    humRaw = get_json_object(col("props"), "$.k").cast("long") * 400,
    pressRaw = col("user_id") * 100,
    axRaw = (col("event_id") % 2001) - 1000,
    ayRaw = (col("event_id") % 1999) - 999,
    azRaw = (col("event_id") % 997) - 498,
    movementRaw = col("event_id"))

  /** M3 — format-5 sensor decode (OP-06) end-to-end over `BinaryType`:
    * deterministic 24-byte payloads are built from events fields
    * (encode → unhex → binary), validated (OP-05: 24 bytes + tag 5,
    * malformed rows dropped) and decoded with sign extension, the
    * humidity clamp, the pressure offset and decode-time rounding —
    * `/root/reference/src/bluetooth/scanner.rs:35-83` semantics. */
  private def m03(s: SparkSession, d: String): DataFrame = {
    val payloadHex = syntheticPayloadHex
    val p = col("payload")
    events(s, d)
      .select(col("event_id"), unhex(payloadHex).as("payload"))
      .filter(Format5.isValid(p))
      .select(
        col("event_id"),
        Format5.temperature(p).as("temperature"),
        Format5.humidity(p).as("humidity"),
        Format5.pressure(p).as("pressure"),
        Format5.accelX(p).as("accel_x"),
        Format5.accelY(p).as("accel_y"),
        Format5.accelZ(p).as("accel_z"),
        Format5.movement(p).as("movement"))
      .orderBy("event_id")
      .limit(100)
  }

  /** M5 — the same decode as M3 through the NATIVE Catalyst expression
    * `format5_decode` ([[graft.plans.Format5Decode]], registered by
    * [[graft.plans.GraftExtensions]]): one byte-level pass with codegen
    * instead of the composed substring→hex→conv chain. Invalid payloads
    * are dropped by M3's `Format5.isValid` filter BEFORE the decode
    * (`Pipeline.decode`'s shape: filtering on the decoded struct's
    * `isNotNull` would decode every row twice). Shares M3's oracle — the
    * two implementations must be indistinguishable. */
  private def m05(s: SparkSession, d: String): DataFrame = {
    events(s, d)
      .select(col("event_id"), unhex(syntheticPayloadHex).as("payload"))
      .filter(Format5.isValid(col("payload")))
      .select(col("event_id"), expr("format5_decode(payload)").as("dec"))
      .select(
        col("event_id"),
        col("dec.temperature").as("temperature"),
        col("dec.humidity").as("humidity"),
        col("dec.pressure").as("pressure"),
        col("dec.acceleration_x").as("accel_x"),
        col("dec.acceleration_y").as("accel_y"),
        col("dec.acceleration_z").as("accel_z"),
        col("dec.movement_counter").as("movement"))
      .orderBy("event_id")
      .limit(100)
  }

  /** M4 — frame sampling: split an opaque payload into fixed 16-byte
    * frames, keep every 4th, hash each — the decode-free skeleton of
    * video frame-sampling (sequence → explode → per-frame extract). */
  private def m04(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(col("doc_id") < 20)
      // guard the empty-text edge: Spark sequence(1, 0) yields the
      // DESCENDING [1, 0] (not empty like DuckDB generate_series(1,0)) —
      // emit an empty frame list instead so zero-byte payloads produce
      // zero frames in both engines
      .withColumn("n_frames", floor((length(col("text")) + 15) / 16))
      .select(
        col("doc_id"), col("text"),
        explode(
          when(col("n_frames") >= 1L, sequence(lit(1L), col("n_frames")))
            .otherwise(array().cast("array<bigint>"))).as("frame_no"))
      .filter(pmod(col("frame_no"), lit(4)) === 1)
      .select(
        col("doc_id"), col("frame_no"),
        md5(expr("cast(substring(text, cast((frame_no-1)*16+1 as int), 16) as binary)")).as("frame_hash"))
      .orderBy("doc_id", "frame_no")

  // ------------------------------------------------------------------

  private val om01 =
    """SELECT event_id, json_extract(props,'$.k')::INT AS k,
      |  json_extract_string(props,'$.tag') AS tag
      |FROM events ORDER BY event_id LIMIT 100""".stripMargin

  private val om02 =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_hash,
      |  ascii(substr(text,1,1)) AS first_byte
      |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin

  private val om03 =
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
      |  WHERE json_extract(props,'$.k') IS NOT NULL
      |    AND value IS NOT NULL AND user_id IS NOT NULL),
      |dec AS (SELECT event_id,
      |  ('0x'||substr(h,3,4))::BIGINT AS traw, ('0x'||substr(h,7,4))::BIGINT AS hraw,
      |  ('0x'||substr(h,11,4))::BIGINT AS praw, ('0x'||substr(h,15,4))::BIGINT AS axraw,
      |  ('0x'||substr(h,19,4))::BIGINT AS ayraw, ('0x'||substr(h,23,4))::BIGINT AS azraw,
      |  ('0x'||substr(h,31,2))::BIGINT AS mraw
      |  FROM enc)
      |SELECT event_id,
      |  ROUND((CASE WHEN traw >= 32768 THEN traw - 65536 ELSE traw END) * (0.005::DOUBLE), 2) AS temperature,
      |  ROUND(LEAST(hraw * (0.0025::DOUBLE), 100.0::DOUBLE), 2) AS humidity,
      |  ROUND((praw + 50000) / (100.0::DOUBLE), 2) AS pressure,
      |  ROUND((CASE WHEN axraw >= 32768 THEN axraw - 65536 ELSE axraw END) * (0.001::DOUBLE), 3) AS accel_x,
      |  ROUND((CASE WHEN ayraw >= 32768 THEN ayraw - 65536 ELSE ayraw END) * (0.001::DOUBLE), 3) AS accel_y,
      |  ROUND((CASE WHEN azraw >= 32768 THEN azraw - 65536 ELSE azraw END) * (0.001::DOUBLE), 3) AS accel_z,
      |  mraw AS movement
      |FROM dec ORDER BY event_id LIMIT 100""".stripMargin

  private val om04 =
    """WITH f AS (SELECT doc_id, text, generate_series(1, (length(text)+15)//16) idxs
      |           FROM documents WHERE doc_id < 20),
      |fr AS (SELECT doc_id, unnest(idxs) AS frame_no, text FROM f)
      |SELECT doc_id, frame_no, md5(substr(text, ((frame_no-1)*16+1)::INT, 16)) AS frame_hash
      |FROM fr WHERE frame_no % 4 = 1 ORDER BY doc_id, frame_no""".stripMargin

  /** M6 — the mapPartitions media-feature path
    * ([[graft.multimodal.MediaFeatures]]) under the ORACLE, not just its
    * unit tests: per-kind feature aggregates over the stub codec. The
    * stub derives every feature from payload byte arithmetic, and the
    * corpus is ASCII, so the oracle can re-derive the identical numbers
    * from character codes — pinning the whole imperative seam (schema,
    * encoder round-trip, per-partition batching, null-payload guard)
    * to an engine-independent result. A real codec deployment keeps
    * this plumbing and loses only the oracle (no SQL decodes JPEG). */
  private def m06(s: SparkSession, d: String): DataFrame =
    graft.multimodal.MediaFeatures
      .extract(graft.multimodal.MediaFeatures.fromDocuments(s, d))
      .toDF()
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n"),
        oround(avg("n_bytes"), 2).as("avg_bytes"),
        oround(avg("width"), 2).as("avg_w"),
        oround(avg("height"), 2).as("avg_h"),
        oround(avg("mean_luma"), 4).as("avg_luma"))
      .orderBy("kind")

  // BYTE semantics, not characters (round-10 advisory fix): the Spark
  // stub decodes the UTF-8 payload's OCTETS (length and unsigned byte
  // sum), so the oracle derives the same numbers from encode(text)
  // (DuckDB's VARCHAR→UTF-8-bytes conversion; a ::BLOB cast REJECTS
  // non-ASCII) — octet_length for sizes and hex-pair extraction for the
  // byte sum — and stays bit-exact on any encoding, not just the staged
  // corpus's ASCII.
  private val om06 =
    """WITH b AS (SELECT doc_id, encode(text) AS bb FROM documents),
      |m AS (SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END kind,
      |  octet_length(bb) nb,
      |  16 + octet_length(bb) % 64 AS w,
      |  16 + (octet_length(bb) // 64) % 64 AS h,
      |  CASE WHEN octet_length(bb) = 0 THEN 0.0 ELSE
      |    list_sum(list_transform(generate_series(1, octet_length(bb)),
      |      i -> ('0x' || substr(hex(bb), 2*i - 1, 2))::BIGINT))::DOUBLE
      |      / octet_length(bb) / 255 END AS luma
      |  FROM b)
      |SELECT kind, count(*) AS n, ROUND(avg(nb), 2) AS avg_bytes, ROUND(avg(w), 2) AS avg_w,
      |  ROUND(avg(h), 2) AS avg_h, ROUND(avg(luma), 4) AS avg_luma
      |FROM m GROUP BY kind ORDER BY kind""".stripMargin

  /** M7 — binary content entropy WITHOUT a per-byte explode (t13's
    * length-diff trick moved to the binary/media domain): the payload's
    * hex form is counted into 16 nibble classes in one pass by the
    * native [[graft.plans.NibbleCounts]] expression, Shannon entropy
    * from those counts, aggregated per event type. Low entropy ⇒ compressible/structured payload (here:
    * the zero-padded tail), high ⇒ already-compressed media — the
    * cheap content-type triage a 100 TB blob estate runs before
    * routing to decoders. Per-row entropies are fixed to integer
    * micro-units BEFORE the group sum (the a08 determinism rule:
    * hash-aggregate float summation order is nondeterministic; long
    * sums are order-free), so avg/min/max survive any partitioning. */
  private def m07(s: SparkSession, d: String): DataFrame = {
    val n = lit(48.0)
    // Counting kernel: ONE pass over the hex payload via the native
    // [[graft.plans.NibbleCounts]] expression. The first shipped form
    // was 16 separate length-translate terms — 16 scans + 16
    // UTF8String allocations per row, and a generated projection big
    // enough to sit at the JIT's method threshold: already split
    // per-term to dodge the huge-method cliff (fused: 9.1 s, split:
    // 4.5 s), it STILL fell out of compiled code intermittently late
    // in full 204-query bench runs (code-cache pressure; same query
    // 2.7 s isolated, 5.8–67 s mid-run). The native histogram is one
    // small always-compilable loop; counts are exact ints so every
    // downstream float op (and the DuckDB oracle) is bit-unchanged.
    // The entropy fold stays split over the narrow count columns, and
    // the rebalance parallelizes per-row work across cores (one
    // parquet file = one partition otherwise) — the Tables.rebalance
    // contract.
    val cnts = (0 until 16).map { i =>
      element_at(col("nc"), i + 1).cast("double").as(s"c$i")
    }
    val terms = (0 until 16).map { i =>
      val cnt = col(s"c$i")
      when(cnt > 0, -(cnt / n) * log2(cnt / n)).otherwise(lit(0.0)).as(s"t$i")
    }
    val ent = (0 until 16).map(i => col(s"t$i")).reduce(_ + _)
    graft.Tables.rebalance(s,
      events(s, d)
        .filter(
          get_json_object(col("props"), "$.k").isNotNull &&
            col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"),
          call_function("nibble_counts", syntheticPayloadHex).as("nc")))
      .select(col("event_type") +: cnts: _*)
      .select(col("event_type") +: terms: _*)
      .select(
        col("event_type"),
        floor(ent * 1e6 + 0.5).cast("long").as("ent_u"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_payloads"),
        oround(sum("ent_u") / (count(lit(1)) * 1e6), 4).as("avg_entropy"),
        oround(min("ent_u") / 1e6, 4).as("min_entropy"),
        oround(max("ent_u") / 1e6, 4).as("max_entropy"))
      .orderBy("event_type")
  }

  private val om07 =
    """WITH enc AS (SELECT event_type, upper(
      |  '05'
      |   || lpad(to_hex(((round(value*200)::BIGINT % 65536) + 65536) % 65536), 4, '0')
      |   || lpad(to_hex((json_extract(props,'$.k')::BIGINT * 400) % 65536), 4, '0')
      |   || lpad(to_hex((user_id * 100) % 65536), 4, '0')
      |   || lpad(to_hex((((event_id % 2001) - 1000) + 65536) % 65536), 4, '0')
      |   || lpad(to_hex((((event_id % 1999) - 999) + 65536) % 65536), 4, '0')
      |   || lpad(to_hex((((event_id % 997) - 498) + 65536) % 65536), 4, '0')
      |   || 'FFFF' || lpad(to_hex(event_id % 256), 2, '0') || '0000' || '000000000000') AS h
      |  FROM events
      |  WHERE json_extract(props,'$.k') IS NOT NULL
      |    AND value IS NOT NULL AND user_id IS NOT NULL),
      |e AS (SELECT event_type, floor(1e6 * (
      |    SELECT -sum(CASE WHEN cnt > 0 THEN (cnt/48.0) * log2(cnt/48.0) ELSE 0 END)
      |    FROM (SELECT len(h) - len(replace(h, d, '')) AS cnt
      |          FROM (SELECT unnest(['0','1','2','3','4','5','6','7',
      |                               '8','9','A','B','C','D','E','F']) d))
      |  ) + 0.5)::BIGINT AS ent_u
      |  FROM enc)
      |SELECT event_type, count(*) AS n_payloads,
      |  ROUND(sum(ent_u) / (count(*) * 1e6), 4) AS avg_entropy,
      |  ROUND(min(ent_u) / 1e6, 4) AS min_entropy,
      |  ROUND(max(ent_u) / 1e6, 4) AS max_entropy
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** M8 — image-header metadata extraction: synthesize a real PNG
    * header (8-byte signature + IHDR chunk, width/height as big-endian
    * u32 at byte offsets 17/21) per event, then parse it back OFF THE
    * BYTES — magic-number validation (the OP-05 gate for an image
    * estate: non-PNG blobs are dropped, not nulled) and
    * substring-on-binary + conv decode, all codegen'd column
    * expressions. The released result is the dimension census a vision
    * curation pass runs before resize (orientation mix, mean dims, max
    * pixel count); at 100 TB the same narrow parse runs scan-bound over
    * binaryFile or parquet-binary inputs (x08/m02) with the aggregate
    * bounded by |orientations|. The oracle re-derives width/height
    * arithmetically, so every byte of the encode→slice→decode plumbing
    * is pinned. */
  private def m08(s: SparkSession, d: String): DataFrame = {
    val w = (col("event_id") % 1857 + 64).cast("long")
    val h = (col("event_id") % 1017 + 64).cast("long")
    val hdrHex = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"))
    val img = col("img")
    val pw = conv(hex(substring(img, 17, 4)), 16, 10).cast("long")
    val ph = conv(hex(substring(img, 21, 4)), 16, 10).cast("long")
    events(s, d)
      .select(unhex(hdrHex).as("img"))
      .filter(hex(substring(img, 1, 8)) === "89504E470D0A1A0A" &&
        hex(substring(img, 13, 4)) === "49484452")
      .select(pw.as("w"), ph.as("h"))
      .select(
        when(col("w") > col("h"), "landscape")
          .when(col("w") < col("h"), "portrait")
          .otherwise("square").as("orient"),
        col("w"), col("h"))
      .groupBy("orient")
      .agg(
        count(lit(1)).as("n"),
        oround(avg("w"), 2).as("avg_w"),
        oround(avg("h"), 2).as("avg_h"),
        max(col("w") * col("h")).as("max_px"))
      .orderBy("orient")
  }

  private val om08 =
    """WITH p AS (SELECT event_id % 1857 + 64 AS w, event_id % 1017 + 64 AS h
      |  FROM events),
      |o AS (SELECT w, h,
      |  CASE WHEN w > h THEN 'landscape' WHEN w < h THEN 'portrait'
      |       ELSE 'square' END AS orient FROM p)
      |SELECT orient, count(*) AS n,
      |  ROUND(avg(w), 2) AS avg_w, ROUND(avg(h), 2) AS avg_h,
      |  max(w * h) AS max_px
      |FROM o GROUP BY orient ORDER BY orient""".stripMargin

  /** M11 — AUDIO frame-energy / VAD census, completing the modality
    * triple (image m08/m09/m10, video m04, audio here): each event is
    * an audio CLIP of 160 PCM-ish samples framed into ten 16-sample
    * windows; per-window energy Σ s² drives a voice-activity flag
    * (energy > threshold), published per clip as (n_active_frames,
    * total_energy) — the triage a speech-data pipeline runs to drop
    * silence/noise-only clips before expensive ASR. The DECODE is the
    * mandated deterministic stub (no codec libs in this container):
    * sample(t) = ((event_id·31 + t·17) mod 201) − 100, an
    * integer-exact stand-in with per-clip phase variety; at deployment
    * it swaps for the real PCM decoder via the m06 `mapPartitions`
    * stub seam, and every downstream stage — the framing, the
    * per-window energy fold, the VAD filter, the census — is the real
    * operator shape, all-INTEGER so the cross-engine check is exact
    * (no float tolerance anywhere). The decode+energy loop runs as a
    * typed `mapPartitions` pass (the m06 preference-(d) seam): per-
    * sample work is imperative per-blob computation, and the FIRST
    * spelling as nested Catalyst `transform`/`aggregate` lambdas
    * measured 7.5 s at sf0.1 — every one of the 16M stub samples was
    * an interpreted expression-tree walk — where the tight JVM loop
    * is ~40×, the same lesson as m07's NibbleCounts at the
    * whole-operator tier. Output bounded by the top-100 cut. */
  private def m11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.Tables.rebalance(s, events(s, d).select(col("event_id"), col("event_type")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, tp) =>
        var f = 0
        var nActive = 0L
        var total = 0L
        while (f < 10) {
          var i = 1
          var e = 0L
          while (i <= 16) {
            val smp = (id * 31L + (f * 16L + i) * 17L) % 201L - 100L
            e += smp * smp
            i += 1
          }
          if (e > 40000L) nActive += 1
          total += e
          f += 1
        }
        (id, tp, nActive, total)
      })
      .toDF("event_id", "event_type", "n_active", "total_energy")
      .orderBy(col("total_energy").desc, col("event_id"))
      .limit(100)
  }

  private val om11 =
    """WITH fe AS (SELECT event_id, event_type,
      |    list_transform(generate_series(0, 9), f ->
      |      list_sum(list_transform(generate_series(1, 16), i ->
      |        ((event_id*31 + (f*16 + i)*17) % 201 - 100)
      |          * ((event_id*31 + (f*16 + i)*17) % 201 - 100)))) AS fe
      |  FROM events)
      |SELECT event_id, event_type,
      |  len(list_filter(fe, e -> e > 40000))::BIGINT AS n_active,
      |  list_sum(fe)::BIGINT AS total_energy
      |FROM fe ORDER BY total_energy DESC, event_id LIMIT 100""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("m01_json_multikey", m01, Some(om01)),
    QueryDef("m02_binary_metadata", m02, Some(om02)),
    QueryDef("m03_format5_decode", m03, Some(om03)),
    QueryDef("m04_frame_sample", m04, Some(om04)),
    // same oracle as m03: the native expression must be indistinguishable
    QueryDef("m05_format5_native", m05, Some(om03)),
    QueryDef("m06_media_features", m06, Some(om06)),
    QueryDef("m07_byte_entropy", m07, Some(om07)),
    QueryDef("m08_image_dims", m08, Some(om08)),
    QueryDef("m09_resize_plan", m09, Some(om09)),
    QueryDef("m10_image_near_dup", m10, Some(om10)),
    QueryDef("m11_audio_vad", m11, Some(om11)))

  /** M10 — PERCEPTUAL image near-dup (dHash): the loop between the
    * multimodal estate and the dedup family. Every image blob gets the
    * 60-bit difference hash over the codec's 9×8 luma grid
    * ([[graft.multimodal.MediaFeatures.dhash]] — brightness-invariant
    * row-wise comparisons; stub grid = contiguous byte-range sums, a
    * real codec swaps in downsampled pixel luma at the same seam), and
    * near-dup pairs at Hamming 1–3 come out of d08's EXACT banding
    * machinery: 4 bands × 15 bits (Manku pigeonhole: hd ≤ 3 ⇒ exact
    * agreement on ≥ 1 band — candidates are an equi-join on
    * (band index, value), NEVER all-pairs), the same [[DedupQueries
    * .PairBlockCap]] df-cap + census on hot buckets (identical blobs
    * share every band — that mass is m02/d01's exact-dup signal, and
    * the DuckDB oracle applies the identical HAVING bound), Hamming
    * verified only inside buckets. The corpus stages its own
    * re-encode estate deterministically (t21's discipline): each
    * image's variant is the aeo→bfp translate — a small brightness-
    * style perturbation that lands planted pairs at hd 0–2 (measured:
    * 199/250 at hd 0 — dHash's invariance working — and banding finds
    * 100%); hd-0 collisions (exact templates AND unlucky variants)
    * are excluded exactly as d08 excludes them. Only the 8-byte
    * signature ever shuffles; payloads stay in their scan partitions. */
  private def m10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val imgs = graft.multimodal.MediaFeatures.fromDocuments(s, d)
      .filter(col("kind") === "image")
    val variants = documents(s, d)
      .filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(
        (col("doc_id") + 1000000000L).as("media_id"),
        lit("image").as("kind"),
        translate(col("text"), "aeo", "bfp").cast("binary").as("payload"))
      .as[graft.multimodal.MediaFeatures.MediaRow]
    val hashed = graft.multimodal.MediaFeatures
      .dhash(imgs.unionByName(variants)).toDF()
    val banded = hashed
      .select(col("media_id"), col("dhash"),
        explode(sequence(lit(0), lit(3))).as("j"))
      .select(col("media_id"), col("dhash"), col("j"),
        call_function("shiftright", col("dhash"), col("j") * 15)
          .bitwiseAND(lit(32767L)).as("band"))
    // capBlocks' using-join reorders columns — pin by NAME before the
    // positional rename (the d08 lesson), and checkpoint so both
    // self-join sides read one materialization
    val capped = DedupQueries.capBlocks(banded, Seq("j", "band"), "m10_band_census")
      .select("media_id", "dhash", "j", "band")
      .localCheckpoint()
    val a = capped.toDF("da", "sa", "ja", "ba")
    val b = capped.toDF("db", "sb", "jb", "bb")
    a.join(b,
        col("ja") === col("jb") && col("ba") === col("bb") &&
          col("da") < col("db"))
      .select(col("da"), col("db"), col("sa"), col("sb"))
      .distinct() // a pair sharing several bands counts once
      .select(col("da"), col("db"),
        call_function("bit_count", col("sa").bitwiseXOR(col("sb")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3 && col("hamming") > 0)
      .orderBy("hamming", "da", "db")
  }

  // lazy: declared below defs (the d15 object-init-order lesson).
  // Byte semantics from encode(text) hex pairs — the om06 discipline.
  private lazy val om10 =
    """WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      |m AS (SELECT doc_id AS media_id, encode(text) bb FROM src
      |      UNION ALL
      |      SELECT doc_id + 1000000000, encode(translate(text, 'aeo', 'bfp')) FROM src),
      |byt AS (SELECT media_id, octet_length(bb) n,
      |    list_transform(generate_series(1, octet_length(bb)),
      |      i -> ('0x'||substr(hex(bb), 2*i-1, 2))::BIGINT) bl
      |  FROM m),
      |cel AS (SELECT media_id, list_transform(generate_series(0, 71), j ->
      |    coalesce(list_sum(bl[(j*n)//72 + 1 : ((j+1)*n)//72]), 0)) cs
      |  FROM byt),
      |dh AS (SELECT media_id, list_sum(list_transform(generate_series(0, 59), bit ->
      |    CASE WHEN cs[(bit//8)*9 + (bit%8) + 1] < cs[(bit//8)*9 + (bit%8) + 2]
      |         THEN (1::BIGINT << bit) ELSE 0::BIGINT END))::BIGINT dhash
      |  FROM cel),
      |k AS (SELECT media_id, dhash, j, (dhash >> (15*j)) & 32767 AS band
      |      FROM dh, (SELECT unnest(generate_series(0, 3)) j)),
      |kc AS (SELECT j, band FROM k GROUP BY j, band HAVING count(*) BETWEEN 2 AND 64),
      |kf AS (SELECT k.* FROM k JOIN kc USING (j, band)),
      |pairs AS (SELECT DISTINCT a.media_id da, b.media_id db, a.dhash sa, b.dhash sb
      |  FROM kf a JOIN kf b ON a.j = b.j AND a.band = b.band AND a.media_id < b.media_id)
      |SELECT da, db, bit_count(xor(sa, sb))::BIGINT AS hamming
      |FROM pairs WHERE bit_count(xor(sa, sb)) BETWEEN 1 AND 3
      |ORDER BY hamming, da, db""".stripMargin

  /** M9 — the RESIZE stage of the media pipeline (the last of the
    * brief's four multimodal verbs — decode m03/m05, feature-extract
    * m06/m07, frame-sample m04, resize here): stub-decode each image
    * blob's dimensions, plan the aspect-preserving integer fit into a
    * 48-box, and report per-kind how much of the corpus needs
    * downscaling and the output byte budget the re-encode would
    * produce. The plan, not the pixels, is the product at this stage —
    * a curation pipeline sizes the (expensive) re-encode job from
    * exactly this aggregate before paying for it. Same
    * [[graft.multimodal.MediaFeatures]] mapPartitions seam as m06;
    * integer-only fit arithmetic keeps the DuckDB oracle bit-exact. */
  private def m09(s: SparkSession, d: String): DataFrame =
    graft.multimodal.MediaFeatures
      // filter BEFORE the typed seam: a Column filter after
      // mapPartitions can't push below it, so the audio half of the
      // corpus would pay full decode cost only to be dropped — with a
      // real codec that's half the pipeline's bill (round-9 review)
      .resizePlan(
        graft.multimodal.MediaFeatures.fromDocuments(s, d)
          .filter(col("kind") === "image"), 48)
      .toDF()
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n"),
        oround(avg("rw"), 2).as("avg_w"),
        oround(avg("rh"), 2).as("avg_h"),
        sum(when(col("downscaled"), 1L).otherwise(0L)).as("n_downscaled"),
        sum("out_bytes").as("out_bytes"))
      .orderBy("kind")

  // lazy: declared below the defs list that captures it (the d15 lesson).
  // octet_length, not length: the stub sizes the OCTET payload (see om06)
  private lazy val om09 =
    """WITH m AS (SELECT doc_id,
      |  16 + octet_length(encode(text)) % 64 AS w,
      |  16 + (octet_length(encode(text)) // 64) % 64 AS h
      |  FROM documents WHERE doc_id % 2 = 0),
      |r AS (SELECT w, h,
      |  CASE WHEN greatest(w, h) <= 48 THEN w
      |       WHEN w >= h THEN 48 ELSE (w * 48) // h END rw,
      |  CASE WHEN greatest(w, h) <= 48 THEN h
      |       WHEN w >= h THEN (h * 48) // w ELSE 48 END rh
      |  FROM m)
      |SELECT 'image' AS kind, count(*) AS n,
      |  ROUND(avg(rw), 2) AS avg_w, ROUND(avg(rh), 2) AS avg_h,
      |  sum(CASE WHEN greatest(w, h) > 48 THEN 1 ELSE 0 END)::BIGINT AS n_downscaled,
      |  sum(rw * rh)::BIGINT AS out_bytes
      |FROM r""".stripMargin
}
