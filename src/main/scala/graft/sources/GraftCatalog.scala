package graft.sources

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, ProcedureCatalog}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for the graft-ocf maintenance suite — Spark 4's
  * `ProcedureCatalog` (the CALL statement connector API), so the
  * operational verbs ship as first-class SQL the way Iceberg/Delta
  * expose OPTIMIZE/VACUUM:
  *
  * {{{
  *   SET spark.sql.catalog.graft = graft.sources.GraftCatalog
  *   CALL graft.system.compact(dir => '/stores/events')
  *   CALL graft.system.vacuum(dir => '/stores/events')
  *   CALL graft.system.zorder(dir => '/stores/events', target_files => 16)
  *   CALL graft.system.advise(dir => '/stores/events')
  * }}}
  *
  * Every procedure returns its result as rows (a `LocalScan`), so a
  * scheduler can drive the whole maintenance loop from SQL: `advise`
  * emits the triage table, the action procedures report what they did.
  * Execution happens on the driver through the same `OcfMaintenance`
  * entry points the Scala API exposes — one code path, two surfaces.
  */
class GraftCatalog extends CatalogPlugin with ProcedureCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  private def spark = SparkSession.active

  private def s(v: Any): UTF8String = UTF8String.fromString(String.valueOf(v))

  /** One-row (or n-row) result as a LocalScan. */
  private case class Result(schema: StructType, out: Array[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = out
    override def readSchema(): StructType = schema
  }

  private def one(schema: StructType, vals: Any*): java.util.Iterator[Scan] =
    Collections.singletonList[Scan](Result(schema,
      Array(new GenericInternalRow(vals.toArray)))).iterator()

  private abstract class Proc(procName: String,
                              params: Array[ProcedureParameter])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
  }

  private def dirParam: ProcedureParameter =
    ProcedureParameter.in("dir", StringType)
      .comment("graft-ocf store directory").build()

  private val twoInts = StructType(Seq(
    StructField("before", IntegerType), StructField("after", IntegerType)))
  private val intLong = StructType(Seq(
    StructField("n", IntegerType), StructField("amount", LongType)))

  private val procs: Map[String, Proc] = Map(
    "compact" -> new Proc("compact", Array(dirParam)) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val (b, a) = OcfMaintenance.compact(spark, in.getString(0))
        one(twoInts, b, a)
      }
    },
    "consolidate_manifests" ->
      new Proc("consolidate_manifests", Array(dirParam)) {
        override def call(in: InternalRow): java.util.Iterator[Scan] = {
          val (n, bytes) =
            OcfMaintenance.compactManifests(spark, in.getString(0))
          one(intLong, n, bytes)
        }
      },
    "cluster_time" -> new Proc("cluster_time", Array(dirParam,
      ProcedureParameter.in("target_files", IntegerType)
        .defaultValue("0").build())) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val (b, a) = OcfMaintenance.cluster(spark, in.getString(0),
          in.getInt(1))
        one(twoInts, b, a)
      }
    },
    "zorder" -> new Proc("zorder", Array(dirParam,
      ProcedureParameter.in("target_files", IntegerType)
        .defaultValue("8").build(),
      ProcedureParameter.in("ts_bucket_us", LongType)
        .defaultValue("3600000000").build(),
      ProcedureParameter.in("curve", StringType)
        .defaultValue("'morton'").build())) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val (b, a) = OcfMaintenance.clusterZOrder(spark, in.getString(0),
          in.getInt(1), in.getLong(2), in.getString(3))
        one(twoInts, b, a)
      }
    },
    "retain" -> new Proc("retain", Array(dirParam,
      ProcedureParameter.in("before_ts_us", LongType).build())) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val (n, recs) = OcfMaintenance.retain(spark, in.getString(0),
          in.getLong(1))
        one(intLong, n, recs)
      }
    },
    "retain_bytes" -> new Proc("retain_bytes", Array(dirParam,
      ProcedureParameter.in("max_bytes", LongType).build())) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val (n, recs) = OcfMaintenance.retainBytes(spark, in.getString(0),
          in.getLong(1))
        one(intLong, n, recs)
      }
    },
    "compact_by_key" -> new Proc("compact_by_key", Array(dirParam,
      ProcedureParameter.in("drop_tombstones", BooleanType)
        .defaultValue("false").build())) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val (b, a) = OcfMaintenance.compactByKey(spark, in.getString(0),
          in.getBoolean(1))
        one(StructType(Seq(StructField("records_before", LongType),
          StructField("records_after", LongType))), b, a)
      }
    },
    // right-to-be-forgotten: the predicate is a SQL boolean over the
    // store's columns (typically `key`), e.g.
    //   CALL graft.system.erase_keys(dir => '/stores/events',
    //     predicate => "CAST(key AS STRING) IN ('12345')")
    "erase_keys" -> new Proc("erase_keys", Array(dirParam,
      ProcedureParameter.in("predicate", StringType)
        .comment("SQL boolean over the record columns; matching " +
          "records are physically removed").build())) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val (b, a) = OcfMaintenance.eraseKeys(spark, in.getString(0),
          org.apache.spark.sql.functions.expr(in.getString(1)))
        one(StructType(Seq(StructField("records_before", LongType),
          StructField("records_after", LongType))), b, a)
      }
    },
    "vacuum" -> new Proc("vacuum", Array(dirParam,
      ProcedureParameter.in("older_than_ms", LongType)
        .defaultValue("86400000").build())) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val (n, bytes) = OcfMaintenance.vacuum(spark, in.getString(0),
          in.getLong(1))
        one(intLong, n, bytes)
      }
    },
    "ann_compact" -> new Proc("ann_compact", Array(
      ProcedureParameter.in("dir", StringType)
        .comment("AnnIndexStore directory").build(),
      ProcedureParameter.in("compact_seq", LongType).build())) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val dir = in.getString(0)
        AnnIndexStore.compact(spark, dir, in.getLong(1))
        val n = AnnIndexStore.read(spark, dir).count()
        one(StructType(Seq(StructField("live_postings", LongType))), n)
      }
    },
    "text_compact" -> new Proc("text_compact", Array(
      ProcedureParameter.in("dir", StringType)
        .comment("TextIndexStore directory").build(),
      ProcedureParameter.in("compact_seq", LongType).build())) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val dir = in.getString(0)
        TextIndexStore.compact(spark, dir, in.getLong(1))
        val n = TextIndexStore.read(spark, dir)._1.count()
        one(StructType(Seq(StructField("live_postings", LongType))), n)
      }
    },
    "snapshots" -> new Proc("snapshots", Array(dirParam)) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val schema = StructType(Seq(
          StructField("committed_at_ms", LongType),
          StructField("snapshot_file", StringType),
          StructField("n_containers", IntegerType)))
        val rows = OcfStore.listSnapshots(in.getString(0),
            OcfStore.driverConf())
          .map { case (ts, f, n) => new GenericInternalRow(
            Array[Any](ts, s(f), n)): InternalRow }.toArray
        Collections.singletonList[Scan](Result(schema, rows)).iterator()
      }
    },
    // metadata-only CDF census: the containers (and their manifest
    // record counts) a changes(from, to) read would open — the
    // planning/monitoring face of OcfMaintenance.changes, no
    // container ever opened
    "changes" -> new Proc("changes", Array(dirParam,
      ProcedureParameter.in("from_ms", LongType).build(),
      ProcedureParameter.in("to_ms", LongType).build())) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val added = OcfStore.changedFiles(in.getString(0),
          OcfStore.driverConf(), in.getLong(1), in.getLong(2))
        val schema = StructType(Seq(
          StructField("container", StringType),
          StructField("n_records", LongType)))
        val rows = added.map(f => new GenericInternalRow(Array[Any](
          s(f.name), f.count)): InternalRow).toArray
        Collections.singletonList[Scan](Result(schema, rows)).iterator()
      }
    },
    "advise" -> new Proc("advise", Array(dirParam)) {
      override def call(in: InternalRow): java.util.Iterator[Scan] = {
        val schema = StructType(Seq(StructField("rule", StringType),
          StructField("severity", StringType),
          StructField("metric", LongType),
          StructField("detail", StringType)))
        val rows = OcfMaintenance.advise(spark, in.getString(0))
          .collect().map(r => new GenericInternalRow(Array[Any](
            s(r.getString(0)), s(r.getString(1)), r.getLong(2),
            s(r.getString(3)))): InternalRow)
        Collections.singletonList[Scan](Result(schema, rows)).iterator()
      }
    })

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"unknown namespace ${ident.namespace().mkString(".")}")
    procs.getOrElse(ident.name(),
      throw new IllegalArgumentException(s"unknown procedure $ident"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      procs.keys.toArray.sorted.map(Identifier.of(Array("system"), _))
    else Array.empty
}
