package graft.sources

import java.util

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** `format("graft-avro")` — the engine's avro reader (files written by
  * [[AvroSource.write]]): a DataSource V2 `TableProvider`, so avro
  * directories read through the standard connector API:
  *
  *  - **column pruning through the PLANNER**: Catalyst calls
  *    `pruneColumns` with exactly the attributes the query references;
  *    the pruned StructType becomes the avro READER schema, so
  *    projection happens inside the decoder AND is visible in
  *    `.explain` as the BatchScan's narrowed output (FormatsSpec
  *    asserts it);
  *  - **the caller's schema** (`.schema(...)`, the x01 discipline —
  *    never infer on a lake-scale estate) or, when none is given,
  *    **inference from the container header**: the writer schema is
  *    read from ONE file's header (a few hundred bytes — never a data
  *    pass, unlike CSV/JSON inference) and mapped back to Spark types.
  *    Avro schema resolution matches fields by name, so a supplied
  *    schema may list any subset of the written fields in any order;
  *  - standard integration: the source composes with
  *    `spark.read.format(...).schema(...).load(path)`, shows up in
  *    query plans as a first-class scan, and hands Spark one
  *    `InputPartition` per container file (parallel scan; files are
  *    the split unit here — avro blocks could split further via sync
  *    markers, noted as the scale follow-up).
  *
  * Rows are produced directly as `InternalRow` (UTF8String / micros
  * long / bytes), with no external-Row conversion. Timestamps are
  * `timestamp-micros` in both directions, matching
  * [[AvroSource.avroSchema]].
  */
class AvroV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-avro"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AvroV2.inferFrom(options.get("path"))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AvroV2.AvroTable(properties.get("path"), schema)
}

object AvroV2 {

  /** Avro → Spark for the supported subset (inverse of
    * [[AvroSource.avroSchema]]); unions {null, T} map to nullable T. */
  private def sparkType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val nonNull = s.getTypes.stream.filter(_.getType != Schema.Type.NULL).findFirst.get
      (sparkType(nonNull)._1, true)
    case Schema.Type.LONG =>
      if (s.getLogicalType != null &&
        s.getLogicalType.getName == "timestamp-micros") (TimestampType, false)
      else (LongType, false)
    case Schema.Type.INT     => (IntegerType, false)
    case Schema.Type.DOUBLE  => (DoubleType, false)
    case Schema.Type.FLOAT   => (FloatType, false)
    case Schema.Type.STRING  => (StringType, false)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.BYTES   => (BinaryType, false)
    case other =>
      throw new IllegalArgumentException(s"unsupported avro type: $other")
  }

  /** The session's Hadoop configuration, so its `spark.hadoop.*`
    * entries (the filesystem classes [[graft.Engine.builder]] sets,
    * credentials, defaultFS) govern every read, as they govern
    * [[AvroSource.write]]. */
  private def sessionConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** Writer schema from ONE container header — bytes, not a data pass. */
  private def inferFrom(path: String): StructType = {
    val f = firstFile(path)
    val r = new DataFileReader[GenericRecord](
      new FsInput(f, sessionConf), new GenericDatumReader[GenericRecord]())
    val writer = try r.getSchema finally r.close()
    StructType(writer.getFields.stream.map[StructField] { fld =>
      val (dt, nullable) = sparkType(fld.schema())
      StructField(fld.name(), dt, nullable)
    }.toArray(n => new Array[StructField](n)))
  }

  private def listFiles(path: String): Seq[org.apache.hadoop.fs.Path] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(sessionConf)
    val it = fs.listStatus(dir).iterator
    // the `_`/`.` prefix filter is Hadoop's hidden-file convention —
    // [[AvroSource.write]]'s commit protocol relies on it so a crashed
    // attempt's `_tmp-` orphan (possibly truncated) is never scanned
    it.filter { s =>
      val n = s.getPath.getName
      s.isFile && n.endsWith(".avro") &&
        !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath).toSeq
  }

  private def firstFile(path: String): org.apache.hadoop.fs.Path =
    listFiles(path).sortBy(_.getName).headOption.getOrElse(
      throw new IllegalArgumentException(s"no .avro files under $path"))

  private class AvroTable(path: String, tableSchema: StructType)
      extends Table with SupportsRead {
    override def name(): String = s"graft-avro:$path"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new AvroScanBuilder(path, tableSchema)
  }

  private class AvroScanBuilder(path: String, full: StructType)
      extends ScanBuilder with SupportsPushDownRequiredColumns {
    private var required: StructType = full
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema
    override def build(): Scan = new AvroScan(path, required)
  }

  private class AvroScan(path: String, required: StructType) extends Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      listFiles(path).sortBy(_.getName)
        .map(p => AvroFilePartition(p.toString): InputPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new AvroReaderFactory(required.json, new SerializableConfiguration(sessionConf))
  }

  private case class AvroFilePartition(file: String) extends InputPartition

  private class AvroReaderFactory(requiredJson: String, conf: SerializableConfiguration)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
      // the pruned Spark schema IS the avro reader schema: avro schema
      // resolution drops every unlisted writer field inside the decoder
      val readerSchema = AvroSource.avroSchema(required)
      val file = p.asInstanceOf[AvroFilePartition].file
      val reader = new DataFileReader[GenericRecord](
        new FsInput(new org.apache.hadoop.fs.Path(file), conf.value),
        new GenericDatumReader[GenericRecord](null, readerSchema))
      val fields = required.fields
      new PartitionReader[InternalRow] {
        private var current: GenericRecord = _
        override def next(): Boolean =
          if (reader.hasNext) { current = reader.next(); true } else false
        override def get(): InternalRow = {
          val vals = new Array[Any](fields.length)
          var i = 0
          while (i < fields.length) {
            vals(i) = current.get(fields(i).name) match {
              case null => null
              case v => fields(i).dataType match {
                case TimestampType => v.asInstanceOf[Long] // micros = internal form
                case StringType    => UTF8String.fromString(v.toString)
                case BinaryType =>
                  val bb = v.asInstanceOf[java.nio.ByteBuffer]
                  val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); arr
                case _ => v
              }
            }
            i += 1
          }
          InternalRow.fromSeq(vals.toIndexedSeq)
        }
        override def close(): Unit = reader.close()
      }
    }
  }
}
