package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Num.oround

/** RuuviTag "data format 5" payload codec over `BinaryType` columns —
  * the engine's re-expression of OP-06 (decode) and OP-05 (validation),
  * `/root/reference/src/bluetooth/scanner.rs:35-83`.
  *
  * Payload layout (reference `src/bluetooth/scanner.rs:17-28`):
  * byte 0 = format tag (must be 5); bytes 1-2 temperature (BE i16,
  * 0.005 °C/LSB); 3-4 humidity (BE u16, 0.0025 %/LSB, clamped to 100);
  * 5-6 pressure (BE u16, +50000 Pa offset, reported in hPa); 7-12
  * acceleration x/y/z (BE i16, 0.001 g/LSB); byte 15 movement counter
  * (u8). Bytes 13-14 (battery/TX), 16-17 (sequence) and 18-23 (MAC) are
  * deliberately not decoded — the reference's implicit column prune.
  *
  * Everything is built-in expressions (substring on binary → hex → conv),
  * so the whole decode stays inside WholeStageCodegen — no UDF. Rounding
  * is applied at decode time (2 dp for temp/hum/pressure, 3 dp for
  * acceleration), exactly like `scanner.rs:68-73`; the aggregation layer
  * rounds a second time over these already-rounded values (the reference's
  * two-stage rounding, `src/utils.rs:75-80` — see SURVEY §2.2 item 2,
  * which also forbids fusing the two roundings).
  */
object Format5 {

  /** Big-endian unsigned int from `len` payload bytes starting at 1-based
    * byte position `pos` (substring works natively on BinaryType). */
  def beUint(payload: Column, pos: Int, len: Int): Column =
    conv(hex(substring(payload, pos, len)), 16, 10).cast("long")

  /** Big-endian signed 16-bit with explicit sign extension:
    * raw ≥ 0x8000 → raw − 0x10000. */
  def beInt16(payload: Column, pos: Int): Column = {
    val raw = beUint(payload, pos, 2)
    when(raw >= 32768L, raw - 65536L).otherwise(raw)
  }

  /** OP-05 validation: exactly 24 bytes and format tag 5. Malformed rows
    * are DROPPED by the caller (filter), never nulled —
    * `scanner.rs:36-45`. A byte comparison, no hex/conv: this is the
    * cheap predicate callers filter on BEFORE decoding, and exactly the
    * payloads `format5_decode` maps to NULL fail it. */
  def isValid(payload: Column): Column =
    length(payload) === 24 && substring(payload, 1, 1) === lit(Array[Byte](5))

  def temperature(payload: Column): Column =
    oround(beInt16(payload, 2) * lit(0.005), 2)

  /** Humidity, clamped to 100 BEFORE rounding (`scanner.rs:53`). */
  def humidity(payload: Column): Column =
    oround(least(beUint(payload, 4, 2) * lit(0.0025), lit(100.0)), 2)

  /** Pressure in hPa: (raw + 50000 Pa) / 100 (`scanner.rs:56`). */
  def pressure(payload: Column): Column =
    oround((beUint(payload, 6, 2) + 50000L) / lit(100.0), 2)

  def accelX(payload: Column): Column = oround(beInt16(payload, 8) * lit(0.001), 3)
  def accelY(payload: Column): Column = oround(beInt16(payload, 10) * lit(0.001), 3)
  def accelZ(payload: Column): Column = oround(beInt16(payload, 12) * lit(0.001), 3)

  /** Movement counter, byte 15 (0-based) = 1-based position 16. */
  def movement(payload: Column): Column = beUint(payload, 16, 1)

  /** All decoded metric columns, in reference order. Apply after an
    * `isValid` filter. */
  def decodeAll(payload: Column): Seq[Column] = Seq(
    temperature(payload).as("temperature"),
    humidity(payload).as("humidity"),
    pressure(payload).as("pressure"),
    accelX(payload).as("acceleration_x"),
    accelY(payload).as("acceleration_y"),
    accelZ(payload).as("acceleration_z"),
    movement(payload).as("movement_counter"))

  // ----- encode side (test/fixture support) -----------------------------

  /** 4-hex-digit big-endian encoding of a (wrapped) 16-bit value. */
  def hex4(x: Column): Column = lpad(hex(pmod(x, lit(65536L))), 4, "0")

  /** 2-hex-digit encoding of a (wrapped) 8-bit value. */
  def hex2(x: Column): Column = lpad(hex(pmod(x, lit(256L))), 2, "0")

  /** Build a 24-byte format-5 payload (as a hex string; `unhex` it for the
    * binary form) from raw integer fields. Bytes 13-14, 16-23 are zeroed /
    * 0xFFFF filler — the undecoded tail. */
  def encodeHex(
      tempRaw: Column, humRaw: Column, pressRaw: Column,
      axRaw: Column, ayRaw: Column, azRaw: Column,
      movementRaw: Column): Column =
    concat(
      lit("05"),
      hex4(tempRaw), hex4(humRaw), hex4(pressRaw),
      hex4(axRaw), hex4(ayRaw), hex4(azRaw),
      lit("FFFF"), hex2(movementRaw), lit("0000"), lit("000000000000"))
}
