package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.AvroOcf

/** S6 — the one-blob→many-rows Avro OCF decode as a Catalyst
  * `Generator` (the UDTF shape SURVEY §4 calls for): each binary OCF
  * payload explodes into one row per contained record, projected onto
  * the declared target schema.
  *
  * The writer schema is read from the container header per blob (the
  * self-describing property, reference `AvroDatumUtils.scala:35`);
  * fields are resolved BY NAME against the target schema — a field the
  * writer didn't produce decodes to null, mirroring Avro schema
  * resolution. Generators are CodegenFallback by design in Spark; the
  * per-blob Avro decode dominates, not expression dispatch.
  */
case class AvroOcfExplode(child: Expression, schema: StructType,
                          permissive: Boolean = false)
    extends UnaryExpression with Generator with CodegenFallback
    with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def elementSchema: StructType = schema
  override def prettyName: String = "graft_avro_ocf_explode"

  private def convert(v: Any, dt: DataType): Any =
    AvroOcfExplode.convert(v, dt)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val bytes = child.eval(input).asInstanceOf[Array[Byte]]
    if (bytes == null) return Nil
    // permissive mode drops undecodable payloads — and individually
    // undecodable RECORDS (e.g. a writer value that can't coerce to
    // the target type) — instead of failing the task: real ingestion
    // meets garbage bytes (the reference logs and skips on fetch
    // errors; this is the decode analog)
    val parsed =
      try Some(AvroOcf.records(bytes))
      catch { case _: Exception if permissive => None }
    parsed match {
      case None => Nil
      case Some((writerSchema, recs)) =>
        val hasField =
          schema.fields.map(f => writerSchema.getField(f.name) != null)
        recs.flatMap { r =>
          try Some(InternalRow.fromSeq(schema.fields.zipWithIndex.map {
            case (f, i) =>
              if (hasField(i)) convert(r.get(f.name), f.dataType) else null
          }.toIndexedSeq))
          catch { case _: Exception if permissive => None }
        }
    }
  }

  override protected def withNewChildInternal(newChild: Expression)
      : AvroOcfExplode = copy(child = newChild)
}

object AvroOcfExplode {
  /** Avro runtime value → Catalyst internal value for the target type;
    * shared by the strict/permissive and dead-letter generators.
    */
  private[functions] def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: CharSequence, StringType) => UTF8String.fromString(s.toString)
    case (l: java.lang.Long, LongType) => l.longValue()
    case (i: java.lang.Integer, LongType) => i.longValue().asInstanceOf[Any]
    case (i: java.lang.Integer, IntegerType) => i.intValue()
    case (d: java.lang.Double, DoubleType) => d.doubleValue()
    case (f: java.lang.Float, FloatType) => f.floatValue()
    case (f: java.lang.Float, DoubleType) => f.doubleValue()
    case (b: java.lang.Boolean, BooleanType) => b.booleanValue()
    case (bb: java.nio.ByteBuffer, BinaryType) =>
      val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); arr
    case (other, t) => throw new IllegalArgumentException(
      s"unsupported Avro value ${other.getClass} for ${t.catalogString}")
  }
}

/** The dead-letter variant of AvroOcfExplode: instead of silently
  * dropping poison payloads (permissive) or failing the task (strict),
  * every input blob ACCOUNTS for itself — decodable records emit with
  * a null `decode_error`, an undecodable container emits exactly ONE
  * all-null row carrying the exception message, and an individually
  * uncoercible record emits its own error row. One decode pass serves
  * both the clean stream and the quarantine: callers split the output
  * on `decode_error IS NULL` (the reference's X3 analog for payload —
  * not protocol — errors: log-and-continue, never kill the stream).
  */
case class AvroOcfExplodeDlq(child: Expression, schema: StructType)
    extends UnaryExpression with Generator with CodegenFallback
    with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def elementSchema: StructType =
    StructType(schema.fields :+
      StructField("decode_error", StringType, nullable = true))
  override def prettyName: String = "graft_avro_ocf_explode_dlq"

  private def errorRow(msg: String): InternalRow =
    InternalRow.fromSeq(
      schema.fields.toIndexedSeq.map(_ => null: Any) :+
        UTF8String.fromString(msg))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val bytes = child.eval(input).asInstanceOf[Array[Byte]]
    if (bytes == null) return Nil
    val parsed =
      try Right(AvroOcf.records(bytes))
      catch { case e: Exception =>
        Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    parsed match {
      case Left(msg) => Seq(errorRow(msg))
      case Right((writerSchema, recs)) =>
        val hasField =
          schema.fields.map(f => writerSchema.getField(f.name) != null)
        recs.map { r =>
          try InternalRow.fromSeq(schema.fields.zipWithIndex.map {
            case (f, i) =>
              if (hasField(i))
                AvroOcfExplode.convert(r.get(f.name), f.dataType)
              else null
          }.toIndexedSeq :+ (null: Any))
          catch { case e: Exception => errorRow(
            s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        }
    }
  }

  override protected def withNewChildInternal(newChild: Expression)
      : AvroOcfExplodeDlq = copy(child = newChild)
}
