package graft.sources

import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.KafkaShape

/** The on-disk record layout of the graft-ocf record store (S8): one
  * Avro Object-Container-File per writer task, each record carrying the
  * full 7-column Kafka contract (graft.engine.KafkaShape.schema). The
  * container is self-describing (S6 discipline, reference
  * `AvroDatumUtils.scala:35`): the writer schema travels in the file
  * header, so the store replays without any side-channel metadata.
  *
  * Timestamps are stored as microseconds since epoch — exactly
  * Catalyst's TimestampType physical value — so a write→read round
  * trip is bit-lossless.
  */
object OcfFormat {

  /** Avro writer schema (parsed per JVM; Avro Schema is not
    * serializable, so executors re-derive it from this object).
    */
  lazy val schema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"KafkaStoreRecord","fields":[
      |{"name":"key","type":["null","bytes"],"default":null},
      |{"name":"value","type":["null","bytes"],"default":null},
      |{"name":"topic","type":"string"},
      |{"name":"partition","type":"int"},
      |{"name":"offset","type":"long"},
      |{"name":"timestamp_us","type":"long"},
      |{"name":"timestamp_type","type":"int"}]}""".stripMargin)

  val sparkSchema = KafkaShape.schema

  /** DSv2 metadata columns (the Iceberg `_file` role): `_container` =
    * the container file serving the record, `_pos` = the record's
    * 0-based position within it. Hidden unless selected; the lineage
    * handle for debugging a bad record back to its file and for
    * file-granular reprocessing.
    */
  val ContainerCol = "_container"
  val PosCol = "_pos"
  val metaNames: Set[String] = Set(ContainerCol, PosCol)
  val metadataColumns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = ContainerCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "container file name serving this record"
    },
    new MetadataColumn {
      override def name(): String = PosCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "0-based record position within its container"
    })

  /** `required` minus the metadata columns — what the Avro decode and
    * the row extractor actually resolve against the writer schema.
    */
  def dataFields(required: StructType): StructType =
    StructType(required.fields.filterNot(f => metaNames(f.name)))

  def toRecord(row: InternalRow): GenericRecord = {
    val r = new GenericData.Record(schema)
    r.put("key",
      if (row.isNullAt(0)) null else ByteBuffer.wrap(row.getBinary(0)))
    r.put("value",
      if (row.isNullAt(1)) null else ByteBuffer.wrap(row.getBinary(1)))
    r.put("topic", row.getUTF8String(2).toString)
    r.put("partition", row.getInt(3))
    r.put("offset", row.getLong(4))
    r.put("timestamp_us", row.getLong(5))
    r.put("timestamp_type", row.getInt(6))
    r
  }

  private def bytes(v: Any): Any = v match {
    case null => null
    case bb: ByteBuffer =>
      val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); arr
  }

  /** Spark column name → Avro field name (the two diverge only on the
    * timestamp pair).
    */
  val avroName: Map[String, String] = Map(
    "key" -> "key", "value" -> "value", "topic" -> "topic",
    "partition" -> "partition", "offset" -> "offset",
    "timestamp" -> "timestamp_us", "timestampType" -> "timestamp_type")

  /** A reader schema holding only the Avro fields backing `required`
    * Spark columns. Avro schema resolution SKIPS writer fields absent
    * from the reader schema during decode — for the (dominant) `key` /
    * `value` byte blobs that is a buffer seek instead of an allocation
    * + copy, so a pruned monitoring scan never materializes payload
    * bytes at all.
    */
  def prunedAvroSchema(required: StructType): Schema = {
    val keep = required.fields.map(f => avroName(f.name)).toSet
    val fields = new java.util.ArrayList[Schema.Field]()
    schema.getFields.forEach { f =>
      if (keep.contains(f.name))
        fields.add(new Schema.Field(f.name, f.schema(), f.doc(),
          f.defaultVal()))
    }
    Schema.createRecord(schema.getName, schema.getDoc,
      schema.getNamespace, false, fields)
  }

  /** Estimated in-memory bytes per row for a payload-free projection
    * (key/value pruned away) — the width behind the scan's CBO size
    * estimate. Fixed widths per metadata column plus Spark's per-row
    * object overhead; topic is a short name string in practice.
    */
  def metadataRowBytes(required: StructType): Long = {
    val width: Map[String, Long] = Map(
      "topic" -> 16L, "partition" -> 4L, "offset" -> 8L,
      "timestamp" -> 8L, "timestampType" -> 4L)
    8L + required.fieldNames.map(width.getOrElse(_, 8L)).sum
  }

  /** Row builder for a pruned projection: one extractor per required
    * column, resolved once per reader (not per record).
    */
  def rowExtractor(required: StructType): GenericRecord => InternalRow = {
    val fns: Array[GenericRecord => Any] = required.fields.map { f =>
      f.name match {
        case "key"       => (r: GenericRecord) => bytes(r.get("key"))
        case "value"     => (r: GenericRecord) => bytes(r.get("value"))
        case "topic"     => (r: GenericRecord) =>
          UTF8String.fromString(r.get("topic").toString)
        case "partition" => (r: GenericRecord) => r.get("partition")
        case "offset"    => (r: GenericRecord) => r.get("offset")
        case "timestamp" => (r: GenericRecord) => r.get("timestamp_us")
        case "timestampType" => (r: GenericRecord) => r.get("timestamp_type")
        case other => throw new IllegalArgumentException(
          s"graft-ocf: unknown column $other")
      }
    }
    rec => InternalRow.fromSeq(fns.map(_(rec)).toIndexedSeq)
  }
}
