package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation

/** Parquet table access for the driver-generated testdata star schema
  * (TESTDATA.md / FIXTURES.md). All queries read through here so the
  * scan is a plain parquet relation Catalyst can push filters into.
  */
object Tables {
  /** Every schema-inferring parquet read in the program goes through
    * here, and this object owns the one staleness rule for anything
    * derived from a dataset: it is unchanged while its [[Stamp]] is —
    * the names, lengths and mtimes of every file under its paths (one
    * recursive Hadoop listing) plus the session settings schema
    * inference depends on. The first read of a path infers its schema
    * with a Spark job and keeps the resolved relation; a later read
    * with the same stamp in the same session wraps that relation in a
    * new plan with fresh attribute ids: no job, no second listing. A
    * changed stamp, or a relation bound to another session, reads and
    * infers afresh, replacing the key's one entry. Inference runs
    * outside any map lock; two racing first reads both infer.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    parquet(spark, Seq(path), None)

  /** [[parquet]] over several directories, with Spark's `basePath`
    * option for partition discovery when given; the memo then keeps one
    * entry per `basePath`.
    */
  def parquet(spark: SparkSession, paths: Seq[String],
              basePath: Option[String]): DataFrame = {
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    val files = paths.map(listing(spark, _))
    // an absent path: let Spark raise its own error
    if (files.contains(None)) return reader.parquet(paths: _*)
    // one entry per table root: the stamp names every file, so the
    // same root read over a different path set re-infers and replaces
    val key = basePath.fold(paths)(Seq(_)).map(p =>
      fs(spark, p).makeQualified(new Path(p))).mkString("\n")
    val now = stampOf(spark, files.flatten)
    Option(relations.get(key)) match {
      case Some((`now`, rel)) if rel.sqlContext.sparkSession eq spark =>
        spark.baseRelationToDataFrame(rel)
      case _ =>
        val df = reader.parquet(paths: _*)
        Some(df.queryExecution.analyzed).collect {
          case lr: LogicalRelation => relations.put(key, (now, lr.relation)) }
        df
    }
  }

  /** The stamp of tables `names` under `sfDir` (an absent one: no files). */
  def stamp(spark: SparkSession, sfDir: String, names: String*): Stamp =
    stampOf(spark, names.flatMap(n => listing(spark, s"$sfDir/$n.parquet")))

  final case class Stamp(files: Seq[(String, Long, Long)],
                         confs: Seq[Option[String]])

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Session settings that change what parquet schema inference
    * returns (`events` sets the first).
    */
  private val inferenceConfs = Seq(
    NanosAsLong,
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private val relations = new ConcurrentHashMap[String, (Stamp, BaseRelation)]()

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stampOf(spark: SparkSession, files: Seq[Seq[FileStatus]]) =
    Stamp(files.flatten.map(st =>
        (st.getPath.toString, st.getLen, st.getModificationTime)).sorted,
      inferenceConfs.map(spark.conf.getOption))

  /** Every file under `path`, None when it is absent. One listStatus
    * per directory: the located listFiles asks for block locations,
    * ~4 ms a file on a local file system.
    */
  private def listing(spark: SparkSession,
                      path: String): Option[Seq[FileStatus]] = {
    val files = fs(spark, path)
    def walk(p: Path): Seq[FileStatus] = files.listStatus(p).toSeq
      .flatMap(st => if (st.isDirectory) walk(st.getPath) else Seq(st))
    Option.when(files.exists(new Path(path)))(walk(new Path(path)))
  }

  /** True iff a data file under `path` has a TIMESTAMP(NANOS) column. */
  private def holdsNanos(spark: SparkSession, path: String): Boolean =
    listing(spark, path).toSeq.flatten
      .find(_.getPath.getName.endsWith(".parquet")).exists { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st,
        spark.sparkContext.hadoopConfiguration))
      try r.getFileMetaData.getSchema.getColumns.asScala.exists(
        _.getPrimitiveType.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == NANOS
          case _ => false
        })
      finally r.close()
    }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events.ts` is TIMESTAMP(MICROS, NTZ), or TIMESTAMP(NANOS) in
    * older fixtures, which infers and scans only as a long under
    * nanosAsLong: when a read fails and the files hold NANOS, that
    * setting is switched on (and left on, for the scan) and the read
    * retried, so a MICROS fixture leaves the caller's setting as it
    * was. Both normalize to microsecond TimestampType; the session
    * timezone is pinned to UTC (builder and oracle), so the
    * NTZ→TimestampType cast is instant-preserving and matches DuckDB's
    * naive TIMESTAMP reading. Predicate pushdown survives the cast:
    * Catalyst unwraps it in binary comparisons under the UTC session,
    * so a ts-range filter still lands in the parquet scan's
    * PushedFilters as bounds on the NTZ column.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = try table(s, d, "events") catch {
      case _: Exception if !s.conf.get(NanosAsLong).toBoolean &&
          holdsNanos(s, s"$d/events.parquet") =>
        s.conf.set(NanosAsLong, "true")
        table(s, d, "events")
    }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // legacy nanos-as-long
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already microsecond TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
