package graft.sources

import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Avro container files WITHOUT the spark-avro module (not on this
  * classpath — only avro core + avro-mapred ship with the
  * distribution), completing the at-rest estate formats after
  * parquet/ORC/CSV/JSONL (x01–x04; the reference's source stage is
  * `/root/reference/src/bluetooth/scanner.rs:96-202` — this is the
  * fourth file format a 100 TB lake commonly holds).
  *
  *  - WRITE fans out one container file per partition (`foreachPartition`,
  *    the per-partition imperative seam) through the Hadoop FileSystem
  *    API (works on file://, HDFS, or any mounted FS), rows converted
  *    to GenericRecords by the shared field-mapping table.
  *  - READ is the DataSource V2 connector [[AvroV2]]
  *    (`format("graft-avro")`), which maps Spark schemas to avro
  *    reader schemas through [[avroSchema]].
  *  - Timestamps map to avro `long` + `timestamp-micros` logical type
  *    in BOTH directions — microsecond-exact roundtrip (the x02
  *    JSON-format lesson: a default millisecond pattern silently
  *    truncates event times; the x05 oracle pins max(ts) to the µs).
  */
object AvroSource {

  /** Spark → Avro schema for the supported column types. Nullable
    * fields become `union {null, T}` (avro's optional). */
  def avroSchema(schema: StructType, name: String = "graft_record"): Schema = {
    def fieldType(dt: DataType): Schema = dt match {
      case LongType    => Schema.create(Schema.Type.LONG)
      case IntegerType => Schema.create(Schema.Type.INT)
      case DoubleType  => Schema.create(Schema.Type.DOUBLE)
      case FloatType   => Schema.create(Schema.Type.FLOAT)
      case StringType  => Schema.create(Schema.Type.STRING)
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case BinaryType  => Schema.create(Schema.Type.BYTES)
      case TimestampType =>
        org.apache.avro.LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case other =>
        throw new IllegalArgumentException(s"unsupported avro mapping: $other")
    }
    val fields = new java.util.ArrayList[Schema.Field]()
    schema.fields.foreach { f =>
      val t = fieldType(f.dataType)
      val (ft, default) =
        if (f.nullable)
          (Schema.createUnion(Schema.create(Schema.Type.NULL), t),
            Schema.Field.NULL_DEFAULT_VALUE)
        else (t, null)
      fields.add(new Schema.Field(f.name, ft, null, default))
    }
    Schema.createRecord(name, null, "graft", false, fields)
  }

  /** One avro container file per partition under `path`, through a
    * task-commit protocol (the Hadoop FileOutputCommitter discipline
    * scoped to the one-file-per-partition case): every attempt writes a
    * task-attempt-unique `_tmp-` file and RENAMES it into place only
    * after a successful close. A retried or speculative attempt can
    * therefore never interleave bytes with a concurrent sibling writing
    * the same `part-NNNNN.avro`, and a crashed attempt leaves only a
    * `_tmp-` orphan — which Hadoop's input formats (and [[AvroV2]]) skip
    * as a hidden file — never a truncated `part-` file a later scan
    * would treat as data. One complete attempt's file survives per
    * partition — first-wins on HDFS-like stores (rename refuses an
    * existing dest) and guarded-first / last-complete-wins on POSIX
    * (rename replaces); deterministic partitions make any winner
    * byte-equivalent. The driver clears prior `part-` /
    * `_tmp-` files first, so re-writing a directory can never leave a
    * stale partition from a previous wider job alongside fresh output. */
  def write(df: DataFrame, path: String): Unit = {
    val sparkSchema = df.schema
    val json = avroSchema(sparkSchema).toString
    // The SESSION's filesystem configuration (s3a credentials,
    // defaultFS, …) must govern the write exactly as it governs the
    // read — a bare `new Configuration()` here would resolve a different
    // filesystem for the same path string.
    // Hadoop Configuration is not Serializable, so the session entries
    // ship to executors as a key→value overlay on the task-side
    // defaults (the SerializableConfiguration pattern without the
    // private[spark] class).
    val sessionConf = df.sparkSession.sparkContext.hadoopConfiguration
    val confOverlay: Array[(String, String)] = {
      val it = sessionConf.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    locally { // job setup (driver): overwrite semantics + orphan cleanup
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(sessionConf)
      fs.mkdirs(dir)
      fs.listStatus(dir).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") || p.getName.startsWith("_tmp-"))
        .foreach(p => fs.delete(p, false))
    }
    df.rdd.foreachPartition { rows =>
      val sch = new Schema.Parser().parse(json)
      val conf = new org.apache.hadoop.conf.Configuration()
      confOverlay.foreach { case (k, v) => conf.set(k, v) }
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(conf)
      val tc = TaskContext.get()
      val pid = tc.partitionId()
      val dest = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.avro")
      val tmp = new org.apache.hadoop.fs.Path(
        dir, f"_tmp-part-$pid%05d-attempt-${tc.taskAttemptId()}.avro")
      val writer = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[GenericRecord](sch))
        .create(sch, fs.create(tmp, true))
      try {
        try rows.foreach { row =>
          val rec = new GenericData.Record(sch)
          var i = 0
          while (i < sparkSchema.length) {
            rec.put(i, if (row.isNullAt(i)) null else sparkSchema(i).dataType match {
              case TimestampType =>
                val ts = row.getAs[java.sql.Timestamp](i)
                java.lang.Long.valueOf(ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L)
              case BinaryType => ByteBuffer.wrap(row.getAs[Array[Byte]](i))
              case _          => row.get(i).asInstanceOf[AnyRef]
            })
            i += 1
          }
          writer.append(rec)
        } finally writer.close()
      } catch {
        case e: Throwable => fs.delete(tmp, false); throw e
      }
      // task commit: atomic rename. Filesystem semantics differ — HDFS
      // rename refuses an existing dest (first committed attempt wins),
      // POSIX rename REPLACES it (last complete attempt wins) — but
      // under either rule every visible part file is a complete
      // container some attempt fully wrote and closed, which is the
      // corruption-safety invariant; the exists-guard below keeps the
      // first-wins behavior on local FS too outside the narrow
      // check-to-rename window. Losing against an already-committed
      // sibling is success (keep theirs, drop ours) — partitions are
      // deterministic, so either winner is byte-equivalent.
      if (fs.exists(dest)) fs.delete(tmp, false)
      else if (!fs.rename(tmp, dest)) {
        fs.delete(tmp, false)
        if (!fs.exists(dest))
          throw new java.io.IOException(s"avro task commit failed: $tmp -> $dest")
      }
    }
  }
}
