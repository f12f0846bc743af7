package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** S1/S2/S5/S8 — a real DataSourceV2 source/sink over the graft-ocf
  * record store: the rebuild of the reference's receiver architecture
  * on Spark's own connector seam instead of a receiver thread pool.
  *
  *  - `spark.read/readStream.format("graft-ocf").load(dir)` replays a
  *    record-store directory as the 7-column Kafka contract.
  *  - The streaming side is a genuine `MicroBatchStream`: offsets are
  *    per-file consumed counts, `latestOffset` honors
  *    `maxRecordsPerTrigger` through `SupportsAdmissionControl` (the
  *    reference's fetchSize bound, reference
  *    `PartitionedSimpleConsumerKafkaInputDStream.scala:70-73`), and
  *    recovery replays from the checkpointed offset — the engine-owned
  *    twin of S10 offset recovery.
  *  - The write side (OcfWrite.scala) is the V2 commit protocol:
  *    temp-file + driver-side rename, exactly-once under task retry.
  *
  * Scale notes: one input partition per (file, offset-range) — the
  * same parallelism contract as a Kafka topic-partition; readers
  * stream the container (no whole-file buffering). Record counts for
  * `latestOffset` come from the commit-time stats manifests
  * (exactly as brokers serve head offsets — zero container bytes
  * touched); unmanifested files fall back to BLOCK-header counting
  * (no record decode) memoized per (path, length, mtime), so
  * steady-state trigger cost is one listing, not O(store bytes).
  * All filesystem access flows through the session's Hadoop
  * configuration (spark.hadoop.*, credentials), shipped to executors
  * via SerializableConfiguration.
  */
class GraftOcfSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-ocf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OcfFormat.sparkSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new OcfTable(new CaseInsensitiveStringMap(properties))
}

class OcfTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  /** `_container` / `_pos` (the Iceberg `_file`/`_pos` role): hidden
    * lineage columns a scan can select to tie any record back to its
    * container file and position — per-file reprocessing, corruption
    * triage, sampling by file. Served by the reader from state it
    * already tracks (the file path and the block-skip cursor), so
    * selecting them costs nothing extra.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    OcfFormat.metadataColumns
  /** One or many store directories: `load(dir)` arrives as `path`,
    * `load(dirA, dirB, ...)` as a JSON-array `paths` option (Spark's
    * DataSourceV2Utils convention) — the multi-store read is the
    * connector-level twin of Kafka's multi-topic
    * `subscribe("a,b,c")` (reference S1 reads several topics through
    * ONE receiver); each store carries its own `topic` column, so
    * the union is a multi-topic frame with per-store offset
    * bookkeeping, not a user-side union of queries.
    */
  private val dirs: Seq[String] = {
    val many = Option(options.get("paths")).map { js =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readTree(js).elements().asScala.map(_.asText()).toSeq
    }.getOrElse(Seq.empty)
    val dd = many ++ Option(options.get("path")).filter(_ =>
      many.isEmpty).toSeq
    if (dd.isEmpty)
      throw new IllegalArgumentException("graft-ocf requires a path")
    dd
  }

  override def name(): String = s"graft-ocf(${dirs.mkString(",")})"
  override def schema(): StructType = OcfFormat.sparkSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new OcfScanBuilder(OcfReadOptions.parse(dirs, opts))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(dirs.size == 1 && !OcfStore.isGlob(dirs.head),
      s"graft-ocf writes target exactly one literal store, got $dirs")
    new OcfWriteBuilder(dirs.head, info)
  }
}

/** The connector's read options, parsed and validated once per scan
  * (`OcfTable.newScanBuilder`) and carried unchanged by the scan
  * builder, the batch scan and the micro-batch stream.
  */
case class OcfReadOptions(dirs: Seq[String],
                          conf: SerializableConfiguration,
                          maxRecordsPerTrigger: Option[Long] = None,
                          maxBytesPerTrigger: Option[Long] = None,
                          startLatest: Boolean = false,
                          minPartitions: Option[Int] = None,
                          startTsUs: Option[Long] = None,
                          endTsUs: Option[Long] = None,
                          asOfMillis: Option[Long] = None,
                          containersIn: Option[Set[String]] = None)

object OcfReadOptions {
  def parse(dirs: Seq[String],
            opts: CaseInsensitiveStringMap): OcfReadOptions = {
    def long(k: String): Option[Long] = Option(opts.get(k)).map(_.toLong)
    val starting = Option(opts.get("startingOffsets"))
      .map(_.toLowerCase(java.util.Locale.ROOT))
      .getOrElse("earliest")
    require(starting == "earliest" || starting == "latest",
      s"graft-ocf startingOffsets must be earliest|latest, got $starting")
    val startTs = long("startingTimestamp")
    require(startTs.isEmpty || starting == "earliest",
      "graft-ocf: startingTimestamp and startingOffsets=latest are " +
        "mutually exclusive")
    val endTs = long("endingTimestamp")
    require(endTs.isEmpty || startTs.forall(_ <= endTs.get),
      "graft-ocf: startingTimestamp must be <= endingTimestamp")
    // TIME TRAVEL: `timestampAsOf` (epoch millis) pins the scan to the
    // latest committed snapshot at-or-before the timestamp — the
    // reproducible-training-run read (batch only; a stream follows
    // the head by definition)
    val asOf = long("timestampAsOf")
    require(asOf.isEmpty || (startTs.isEmpty && endTs.isEmpty),
      "graft-ocf: timestampAsOf (a snapshot pin) and starting/" +
        "endingTimestamp (a record-time slice) do not compose yet — " +
        "slice with a pushed timestamp filter instead")
    OcfReadOptions(dirs,
      new SerializableConfiguration(OcfStore.driverConf()),
      maxRecordsPerTrigger = long("maxRecordsPerTrigger"),
      maxBytesPerTrigger = long("maxBytesPerTrigger"),
      startLatest = starting == "latest",
      minPartitions = Option(opts.get("minPartitions")).map(_.toInt),
      startTsUs = startTs, endTsUs = endTs, asOfMillis = asOf,
      // CDF seam: `containersIn` (comma-separated container names)
      // restricts the scan to the named containers at LISTING time —
      // the change-data-feed read (OcfMaintenance.changes) opens only
      // the snapshot-diff containers, everything else never opens
      containersIn = Option(opts.get("containersIn"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet))
  }
}

/** Pushdown seam (VERDICT r4 #1): column pruning skips Avro `value` /
  * `key` decode entirely (schema-resolution field skip — a pruned
  * monitoring scan is a metadata scan, no payload bytes move), and
  * partition/offset/timestamp range predicates prune whole containers
  * against the commit-time stats manifest before any file is opened.
  * Filters are ADVISORY (the Parquet row-group model): the source
  * prunes files it can prove irrelevant, Spark still re-evaluates the
  * predicate per row — exactness never depends on the stats.
  */
class OcfScanBuilder(o: OcfReadOptions)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  private var required: StructType = OcfFormat.sparkSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(OcfFilters.supported)
    filters // all residual: Spark re-evaluates, stats only prune files
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT n directly over the scan plans only the leading containers
    * (ranges truncated at n rows total). Spark only pushes a limit
    * here when no filter sits between it and the scan (all our
    * filters are residual, so a filtered query keeps its Filter node
    * and never reaches this path) — the capped scan therefore always
    * produces every row the limit can keep. `isPartiallyPushed`
    * stays true: Spark retains its own Limit, the cap is purely an
    * I/O bound.
    */
  override def pushLimit(n: Int): Boolean =
    if (o.startTsUs.isDefined || o.endTsUs.isDefined)
      false // the I/O cap would count pre-seek rows and starve the limit
    else { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = new OcfScan(o, required, pushed, limit)
}

class OcfScan(o: OcfReadOptions,
              required: StructType = OcfFormat.sparkSchema,
              filters: Array[Filter] = Array.empty,
              limit: Option[Int] = None)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    OcfScanMetrics.supported
  override def description(): String =
    s"graft-ocf scan of ${o.dirs.mkString(",")}, " +
      s"columns=[${required.fieldNames.mkString(",")}]" +
      (if (filters.nonEmpty) s", pushed=[${filters.mkString(",")}]" else "") +
      limit.map(n => s", limit=$n").getOrElse("")

  /** The pruned file plan (key, full path, file), computed ONCE per
    * scan so the partitioning report, the statistics, and the planned
    * input partitions can never disagree. Static pushed filters drop
    * files their manifest stats prove irrelevant; a pushed LIMIT then
    * truncates the tail (ranges cut at `limit` rows total — valid
    * because Spark only pushes a limit with no filter in between).
    */
  private lazy val plannedFiles: Seq[(String, String, OcfLiveFile)] = {
    // CDF restriction: only the named containers survive the listing
    val kept = OcfStore.keyedFiles(o.dirs, o.conf.value, o.asOfMillis)
      .filter { case (_, _, f) =>
        o.containersIn.forall(_.contains(f.name)) &&
          OcfFilters.mayMatch(f, filters)
      }
    limit match {
      case Some(n) =>
        var budget = n.toLong
        kept.flatMap { case (k, p, f) =>
          if (budget <= 0L) None
          else {
            val take = math.min(f.count, budget)
            budget -= take
            Some((k, p, f.copy(count = take)))
          }
        }
      case None => kept
    }
  }

  private def soleKey(f: OcfLiveFile): Option[Int] =
    f.stats.map(_.partitions).collect { case Seq(p) => p }

  /** Storage-partitioned execution (the broker-log layout paying off at
    * read time): the V2 writer clusters containers by the Kafka
    * `partition` column, so when the commit manifests prove every
    * planned file holds exactly ONE partition value, the scan reports
    * `KeyGroupedPartitioning(partition)` and emits key-carrying input
    * partitions — under `spark.sql.sources.v2.bucketing.enabled`,
    * a groupBy(partition) aggregation or a co-partitioned join runs
    * with NO shuffle. Any unmanifested or multi-partition file makes
    * the report fall back to unknown — never a wrong claim.
    */
  private lazy val keyed: Boolean =
    required.fieldNames.contains("partition") &&
      plannedFiles.nonEmpty &&
      plannedFiles.forall(t => soleKey(t._3).isDefined)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (keyed)
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .identity("partition")),
          plannedFiles.size)
    else
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(plannedFiles.size)

  /** Manifest-backed scan statistics, AFTER file pruning and limit
    * truncation — the CBO signal that lets a pruned monitoring scan
    * broadcast in a join instead of defaulting to "unknown = huge"
    * (which forces sort-merge at any scale). Rows are exact (commit
    * manifests / block counts); bytes are the container bytes when the
    * payload blobs are read, or rows x fixed metadata width when
    * column pruning dropped key/value — a metadata scan of a 100 TB
    * store is kilobytes per million rows, and the estimate says so.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rows = plannedFiles.map(_._3.count).sum
    val payload = required.fieldNames.contains("key") ||
      required.fieldNames.contains("value")
    val bytes =
      if (payload) plannedFiles.map(_._3.bytes).sum
      else rows * OcfFormat.metadataRowBytes(required)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** DPP seam: a runtime filter (the classic case — a join against a
    * small dimension produces an IN-set over `partition`) prunes
    * whole containers by manifest stats at execution time, exactly
    * like static pushdown but with values Spark only learns after
    * planning. Advisory as always: Spark re-evaluates the join, the
    * stats only drop provably irrelevant files. Disabled when the
    * scan reported KeyGroupedPartitioning (the partition count is a
    * contract the runtime prune must not break) and when a limit was
    * pushed (the cap was computed over the unfiltered file order and
    * a post-cap prune could starve the limit).
    */
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (keyed || limit.isDefined) Array.empty
    else Array("partition", "offset", "timestamp")
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(fs: Array[Filter]): Unit =
    runtimeFilters = fs.filter(OcfFilters.supported)

  override def toBatch: Batch = new Batch {
    if (o.startLatest) throw new IllegalArgumentException(
      "graft-ocf: startingOffsets=latest is not valid for batch reads " +
        "(a batch over 'from the head' is empty by definition) — the " +
        "Kafka connector rejects it the same way")
    /** Keyed scans are exempt from the `minPartitions` split: their
      * partition layout IS the KeyGroupedPartitioning contract.
      */
    override def planInputPartitions(): Array[InputPartition] = {
      // starting/endingTimestamp on a BATCH read seek exactly like
      // the stream's initial cursors: a range runs from the first
      // at-or-after-start record to the first at-or-after-end record
      // (manifest-resolved; boundary containers get the timestamp-only
      // driver scan) — together they replay one time slice of the
      // store, Kafka's (starting|ending)OffsetsByTimestamp pair.
      // Note: like Kafka's, the slice is positional (cursor-bounded),
      // exact when containers are time-ordered (the streaming sink's
      // layout); records inside the cursor range keep their own ts.
      // BOTH cursor maps resolve against the scan's own single
      // listing (plannedFiles): no re-list between planning and
      // seeking, so a container committed in between can't slip in
      // half-resolved, and a boundary container is driver-scanned
      // ONCE for start and stop together
      val needTs = o.startTsUs.toSeq ++ o.endTsUs.toSeq
      val cursors: Map[Long, Map[String, Long]] =
        if (needTs.isEmpty) Map.empty
        else OcfStore.cursorsAtTimestamps(plannedFiles, needTs,
          o.conf.value)
      val seek: Map[String, Long] =
        o.startTsUs.map(cursors).getOrElse(Map.empty)
      val stop: Map[String, Long] =
        o.endTsUs.map(cursors).getOrElse(Map.empty)
      val kept = plannedFiles
        .filter { case (_, _, f) => OcfFilters.mayMatch(f, runtimeFilters) }
        .map { case (k, path, f) =>
          val end = math.min(stop.getOrElse(k, f.count), f.count)
          (k, path, f.copy(count = end),
            math.min(seek.getOrElse(k, 0L), end))
        }
        .filter { case (_, _, f, start) => start < f.count }
      if (keyed)
        kept.map { case (_, path, f, start) =>
          OcfKeyedRange(path, start, f.count, soleKey(f).get)
            : InputPartition
        }.toArray
      else OcfRange.split(
        kept.map { case (_, path, f, start) => (path, start, f.count) },
        o.minPartitions)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      OcfReaderFactory(o.conf, required)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = {
    if (o.asOfMillis.isDefined) throw new IllegalArgumentException(
      "graft-ocf: timestampAsOf is a batch-read option — a stream " +
        "follows the live head by definition (use startingTimestamp " +
        "to begin a stream at a point in time)")
    if (o.containersIn.isDefined) throw new IllegalArgumentException(
      "graft-ocf: containersIn is a batch-read (CDF) option — a " +
        "stream's incremental read IS its offset cursor")
    new OcfMicroBatchStream(o, required, filters)
  }
}

/** Streaming offset: per-file consumed record counts. With
  * multi-store/glob reads the keys are full directory paths, so they
  * must round-trip through REAL JSON (Jackson, field-order
  * independent, escaping-correct) — a path containing a comma or
  * quote would corrupt a hand-rolled format on checkpoint recovery.
  * Keys are emitted sorted so the offset string is deterministic
  * (offset equality is string equality in the offset log).
  */
case class OcfOffset(counts: Map[String, Long]) extends Offset {
  override def json: String = {
    val node = OcfOffset.mapper.createObjectNode()
    counts.toSeq.sorted.foreach { case (f, c) => node.put(f, c) }
    OcfOffset.mapper.writeValueAsString(node)
  }
}

object OcfOffset {
  private[sources] val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** Cursor lookup with legacy-key fallback: checkpoints written
    * before glob expansion kept fully-qualified paths recorded
    * SCHEME-STRIPPED keys (toUri.getPath). A direct miss retries the
    * stripped form so an upgraded glob/multi-dir stream resumes its
    * old cursors instead of replaying the store from 0.
    */
  private[sources] def cursor(counts: Map[String, Long],
                              key: String): Long =
    counts.get(key).orElse {
      val stripped = new Path(key).toUri.getPath
      if (stripped != key) counts.get(stripped) else None
    }.getOrElse(0L)

  def fromJson(s: String): OcfOffset = {
    val n = mapper.readTree(s)
    require(n != null && n.isObject, s"malformed OcfOffset: $s")
    OcfOffset(n.fields().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap)
  }
}

class OcfMicroBatchStream(o: OcfReadOptions,
                          required: StructType = OcfFormat.sparkSchema,
                          filters: Array[Filter] = Array.empty)
    extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming
      .ReportsSourceMetrics
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow
    with org.apache.spark.internal.Logging {
  /** Last store listing, refreshed by every keyedHeads call (i.e. by
    * each trigger's latestOffset). metrics() reuses it instead of
    * re-listing: progress reporting is per-trigger too, so against an
    * object store this halves-to-thirds the steady-state LIST cost
    * without changing what the numbers mean (both describe the same
    * trigger).
    */
  @volatile private var lastListing
      : Option[Seq[(String, String, OcfLiveFile)]] = None

  private def keyedHeads: Map[String, Long] = {
    val live = OcfStore.keyedFiles(o.dirs, o.conf.value)
    lastListing = Some(live)
    heads(live)
  }
  private def heads(listing: Seq[(String, String, OcfLiveFile)]) =
    listing.map(t => t._1 -> t._3.count).toMap

  /** Consumer-lag observability in every StreamingQueryProgress (the
    * metrics surface Kafka's source exposes as records-behind; X6's
    * per-source half): how many committed records the last consumed
    * offset trails the store heads by, and how many stores currently
    * hold live containers (grows under glob discovery; an empty
    * store has nothing to track). ONE listing serves both numbers.
    *
    * After checkpoint recovery the engine hands back a
    * SerializedOffset (the raw log line), not an OcfOffset — parse
    * by json, never cast (the Kafka connector's own defense).
    */
  override def metrics(latestConsumed: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val live = lastListing
      .getOrElse(OcfStore.keyedFiles(o.dirs, o.conf.value))
    val consumed =
      if (latestConsumed.isPresent) latestConsumed.get match {
        case o: OcfOffset => o.counts
        case other => OcfOffset.fromJson(other.json).counts
      }
      else Map.empty[String, Long]
    val behind = live.map { case (k, _, f) =>
      math.max(f.count - OcfOffset.cursor(consumed, k), 0L)
    }.sum
    val stores = live
      .map(t => t._2.substring(0, t._2.lastIndexOf('/')))
      .distinct.size
    java.util.Map.of(
      "recordsBehindLatest", behind.toString,
      "storesTracked", stores.toString)
  }

  /** Trigger.AvailableNow (the standard backfill pattern: consume
    * everything that exists, then stop): the head is SNAPSHOTTED once
    * at query start, admission-controlled triggers drain up to it,
    * and records committed after the snapshot wait for the next run —
    * a bounded, restart-resumable batch over the streaming source.
    */
  private var availableNowHead: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = Some(keyedHeads)

  /** Kafka's `startingOffsets` contract: earliest (default) begins
    * every cursor at 0 and replays the whole store; latest SNAPSHOTS
    * the head at query start — the backlog is skipped, only records
    * committed after the stream started flow. The snapshot is taken
    * once and checkpointed (Spark persists initialOffset), so a
    * restart never re-snapshots and the boundary is stable.
    */
  override def initialOffset(): Offset =
    if (o.startLatest) OcfOffset(keyedHeads)
    else o.startTsUs match {
      // Kafka's startingOffsetsByTimestamp: seed each cursor at the
      // first record at-or-after the timestamp (manifest-resolved for
      // most containers, a timestamp-only driver scan for boundary
      // ones). Checkpointed like every initialOffset — stable across
      // restart, never re-resolved.
      case Some(ts) =>
        OcfOffset(OcfStore.cursorsAtTimestamp(o.dirs, ts, o.conf.value))
      case None => OcfOffset(Map.empty)
    }
  override def latestOffset(): Offset =
    OcfOffset(availableNowHead.getOrElse(keyedHeads))
  // progress reporting reuses the trigger's listing (the metrics()
  // discipline): the number it feeds — "latest known head" — is
  // per-trigger by definition, so a fresh LIST buys nothing
  override def reportLatestOffset(): Offset =
    OcfOffset(availableNowHead.orElse(lastListing.map(heads))
      .getOrElse(keyedHeads))
  override def deserializeOffset(json: String): Offset =
    OcfOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit = {
    val ls = o.maxRecordsPerTrigger.map(n => ReadLimit.maxRows(n)).toSeq ++
      o.maxBytesPerTrigger.map(n => ReadLimit.maxBytes(n)).toSeq
    ls match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** The admission-controlled head: advance each file's cursor in key
    * order until the per-trigger row budget is spent — the microbatch
    * slice S5 (half-open offset ranges per trigger). With several
    * stores the key is dir-qualified, so the budget round-robins
    * store-by-store in stable order, the multi-topic fetch-size bound.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[OcfOffset].counts
    val head = availableNowHead.getOrElse(keyedHeads)
    // the byte bound admits by manifest-backed container width
    // (bytes/record per file) — the same estimated-bytes admission the
    // Kafka connector's maxBytesPerTrigger performs, zero bytes opened
    def caps(l: ReadLimit): (Option[Long], Option[Long]) = l match {
      case r: ReadMaxRows => (Some(r.maxRows()), None)
      case b: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
        (None, Some(b.maxBytes()))
      case c: org.apache.spark.sql.connector.read.streaming
          .CompositeReadLimit =>
        c.getReadLimits.map(caps).foldLeft(
          (Option.empty[Long], Option.empty[Long])) {
          case ((r1, b1), (r2, b2)) =>
            ((r1.toSeq ++ r2.toSeq).minOption,
              (b1.toSeq ++ b2.toSeq).minOption)
        }
      case _ => (None, None)
    }
    val (rowCap, byteCap) = caps(limit)
    if (rowCap.isEmpty && byteCap.isEmpty) OcfOffset(head)
    else {
      val avgBytes: Map[String, Double] = lastListing
        .map(_.map(t => t._1 ->
          (if (t._3.count > 0) t._3.bytes.toDouble / t._3.count
           else 0.0)).toMap)
        .getOrElse(Map.empty)
      // a file with no width of its own (absent from the listing
      // snapshot, or zero-count) borrows the store-wide mean so the
      // byte bound still applies; with NO width known anywhere the
      // admission caps at a conservative row count instead of
      // silently unbounding maxBytesPerTrigger
      val knownW = avgBytes.values.filter(_ > 0)
      val meanW = if (knownW.nonEmpty) knownW.sum / knownW.size else 0.0
      var rows = rowCap.getOrElse(Long.MaxValue)
      var bytes = byteCap.getOrElse(Long.MaxValue)
      var admittedAny = false
      OcfOffset(head.toSeq.sortBy(_._1).map { case (f, h) =>
        val s = OcfOffset.cursor(from, f)
        // clamp: a file whose head shrank below the cursor (store
        // rewrite) must neither refund the budget nor move its
        // offset backward
        val avail = math.max(h - s, 0L)
        val a = avgBytes.getOrElse(f, 0.0)
        val w = if (a > 0) a else meanW
        val byBytes =
          if (byteCap.isEmpty) Long.MaxValue
          else if (w > 0) math.max((bytes / w).toLong, 0L)
          else {
            logWarning(s"graft-ocf: no bytes/record estimate for $f — " +
              "byte-based admission capped at 4096 rows this trigger")
            4096L
          }
        var take = Seq(avail, math.max(rows, 0L), byBytes).min
        // progress guarantee (the file-source discipline): a byte
        // budget smaller than one record still admits one, else the
        // stream stalls forever on a wide record
        if (take == 0L && avail > 0L && !admittedAny && rows > 0L &&
          bytes > 0L) take = 1L
        if (take > 0L) admittedAny = true
        rows -= take
        if (w > 0) bytes -= math.ceil(take * w).toLong
        f -> (s + take)
      }.toMap)
    }
  }


  /** Offset cursors advance over EVERY file (bookkeeping must stay
    * monotone whatever the predicate), but a file whose manifest stats
    * PROVE no row can match the pushed filters emits no read range —
    * the streaming twin of batch file pruning. Spark re-evaluates the
    * predicate per row, so pruning is advisory here exactly as in
    * batch; a file absent from the manifest is kept conservatively. A
    * checkpointed key whose container has since been retired by
    * retention emits nothing — Kafka's truncated-log semantics, same
    * as the live-listing path.
    */
  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[OcfOffset].counts
    val live = OcfStore.keyedFiles(o.dirs, o.conf.value)
      .map(t => t._1 -> t).toMap
    val ranges = end.asInstanceOf[OcfOffset].counts.toSeq.sortBy(_._1)
      .flatMap { case (k, e) =>
        val from = OcfOffset.cursor(s, k)
        live.get(k) match {
          case Some((_, path, f)) =>
            if (e > from && OcfFilters.mayMatch(f, filters))
              Some((path, from, e))
            else None
          case None => None // retired container: truncated-log replay
        }
      }
    // the batch scan's minPartitions discipline, per microbatch: a
    // trigger draining one mega-container must not run as one task
    OcfRange.split(ranges, o.minPartitions)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    OcfReaderFactory(o.conf, required)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One (file, [start, end)) slice — the same unit of parallelism as a
  * Kafka topic-partition offset range.
  */
sealed trait OcfSlice extends InputPartition {
  def file: String; def start: Long; def end: Long
}

case class OcfRange(file: String, start: Long, end: Long) extends OcfSlice

object OcfRange {
  /** Kafka's `minPartitions` knob over (file, start, end) ranges: a
    * store compacted into few large containers would otherwise cap
    * scan parallelism at the file count (one mega-container = ONE task
    * — the inverse of the small-files problem). When the range count
    * falls short, ranges split into ~total/minPartitions row chunks;
    * the reader block-skips to mid-file starts, so a split costs
    * header walking, not decode.
    */
  def split(ranges: Seq[(String, Long, Long)],
            minPartitions: Option[Int]): Array[InputPartition] = {
    val target = minPartitions.getOrElse(0)
    val total = ranges.map { case (_, st, e) => e - st }.sum
    if (target <= ranges.size || total <= ranges.size)
      ranges.map { case (path, st, e) =>
        OcfRange(path, st, e): InputPartition
      }.toArray
    else {
      val chunk = math.max(1L, (total + target - 1) / target)
      ranges.flatMap { case (path, st, e) =>
        (st until e by chunk).map(c =>
          OcfRange(path, c, math.min(c + chunk, e)): InputPartition)
      }.toArray
    }
  }
}

/** A slice whose container provably holds a single Kafka partition —
  * carries it as the storage partition key for shuffle-free grouping.
  */
case class OcfKeyedRange(file: String, start: Long, end: Long, pk: Int)
    extends OcfSlice
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(pk)
}

/** Per-container statistics, written into the commit manifest and used
  * to (a) serve head counts without opening containers and (b) prune
  * files against pushed partition/offset/timestamp predicates — and,
  * when the writer opted in (`keyBloomBits`), key-equality predicates
  * via a per-container Bloom filter over record keys.
  * Timestamps are epoch microseconds (the on-disk representation).
  */
case class OcfFileStats(file: String, count: Long,
                        minOffset: Long, maxOffset: Long,
                        minTsUs: Long, maxTsUs: Long,
                        partitions: Seq[Int],
                        tsIdx: Seq[OcfTsIdxEntry] = Seq.empty,
                        keyBloom: Option[OcfKeyBloom] = None,
                        codec: Option[String] = None) {
  def toJson: String =
    s"""{"file":"$file","count":$count,"minOffset":$minOffset,""" +
      s""""maxOffset":$maxOffset,"minTsUs":$minTsUs,"maxTsUs":$maxTsUs,""" +
      s""""partitions":[${partitions.mkString(",")}]""" +
      (if (tsIdx.isEmpty) ""
       else s""","tsIdx":[${tsIdx.map(e =>
         s"[${e.endCount},${e.maxTsUs},${e.nextPos}]").mkString(",")}]""") +
      keyBloom.map(kb => s""","keyBloom":${kb.toJson}""").getOrElse("") +
      codec.map(c => s""","codec":"$c"""").getOrElse("") +
      "}"
}

/** Per-container Bloom filter over record KEYS plus the null-key
  * census — the manifest side of point-lookup container skipping (the
  * compacted-topic access pattern: `WHERE key = X` over a 100 TB store
  * must open only the containers whose filter admits the key).
  *
  * The filter is conservative by construction (no false negatives for
  * added keys), the scan contract stays advisory (Spark re-evaluates
  * the predicate per row), and stats without the field — every
  * pre-r10 manifest — simply never prune on key. Hashing is
  * Kirsch–Mitzenmacher double hashing off one stable 64-bit FNV-1a
  * avalanched with Murmur3's fmix64, so write-side and scan-side
  * membership agree across JVMs and Spark upgrades.
  */
case class OcfKeyBloom(bits: Int, hashes: Int, nulls: Long,
                       words: Array[Long]) {
  require(Integer.bitCount(bits) == 1, s"bloom bits must be 2^n: $bits")

  def mightContain(key: Array[Byte]): Boolean = {
    val h1 = OcfKeyBloom.hash64(key)
    val h2 = (h1 >>> 32) | 1L // odd => full period mod 2^n
    var i = 0
    while (i < hashes) {
      val bit = ((h1 + i * h2) & (bits - 1)).toInt
      if ((words(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def toJson: String = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    val b64 = java.util.Base64.getEncoder.encodeToString(bb.array())
    s"""{"bits":$bits,"hashes":$hashes,"nulls":$nulls,"b64":"$b64"}"""
  }

  override def equals(o: Any): Boolean = o match {
    case b: OcfKeyBloom => bits == b.bits && hashes == b.hashes &&
      nulls == b.nulls && java.util.Arrays.equals(words, b.words)
    case _ => false
  }
  override def hashCode(): Int =
    (bits, hashes, nulls, java.util.Arrays.hashCode(words)).hashCode()
}

object OcfKeyBloom {
  /** Stable 64-bit key hash: FNV-1a over the bytes, then Murmur3
    * fmix64 to avalanche (FNV alone clusters on short/sequential
    * keys, which would correlate the double-hash probes).
    */
  def hash64(key: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < key.length) {
      h ^= (key(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** Mutable accumulator used by the writer task: fixed bit budget,
    * k=5 probes (≈1% FPP at 10 bits/key, degrading gracefully —
    * never incorrectly — when a container holds more keys).
    */
  final class Builder(requestedBits: Int) {
    val bits: Int =
      Integer.highestOneBit(math.max(64, requestedBits) * 2 - 1)
    val hashes = 5
    private val words = new Array[Long](bits >>> 6)
    private var nulls = 0L

    def addNull(): Unit = nulls += 1
    def add(key: Array[Byte]): Unit = {
      val h1 = hash64(key)
      val h2 = (h1 >>> 32) | 1L
      var i = 0
      while (i < hashes) {
        val bit = ((h1 + i * h2) & (bits - 1)).toInt
        words(bit >>> 6) |= 1L << (bit & 63)
        i += 1
      }
    }
    def result(): OcfKeyBloom = OcfKeyBloom(bits, hashes, nulls, words)
  }

  def fromJson(n: com.fasterxml.jackson.databind.JsonNode)
      : Option[OcfKeyBloom] =
    try {
      val raw = java.util.Base64.getDecoder.decode(n.get("b64").asText())
      val bb = java.nio.ByteBuffer.wrap(raw)
      val words = new Array[Long](raw.length / 8)
      var i = 0
      while (i < words.length) { words(i) = bb.getLong; i += 1 }
      val bits = n.get("bits").asInt()
      if (Integer.bitCount(bits) == 1 && words.length == (bits >>> 6))
        Some(OcfKeyBloom(bits, n.get("hashes").asInt(),
          n.get("nulls").asLong(), words))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** One block-index segment of a container: records
  * [previous endCount, endCount) carry timestamps <= maxTsUs, and the
  * NEXT segment starts at Avro sync position nextPos
  * (`DataFileWriter.sync()` / `DataFileReader.seek` contract). The
  * timestamp seek skips every leading segment whose maxTsUs proves it
  * holds no qualifying record — a block-skip instead of a
  * full-container driver decode.
  */
case class OcfTsIdxEntry(endCount: Long, maxTsUs: Long, nextPos: Long)

object OcfFileStats {
  // Jackson (on Spark's classpath) instead of a regex: parsing is
  // field-order independent, so adding a manifest field never silently
  // disables pruning for every line
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val fields = Seq("file", "count", "minOffset", "maxOffset",
    "minTsUs", "maxTsUs", "partitions")

  def fromJson(line: String): Option[OcfFileStats] =
    try {
      val n = mapper.readTree(line)
      if (n != null && n.isObject && fields.forall(n.has))
        Some(OcfFileStats(n.get("file").asText(), n.get("count").asLong(),
          n.get("minOffset").asLong(), n.get("maxOffset").asLong(),
          n.get("minTsUs").asLong(), n.get("maxTsUs").asLong(),
          n.get("partitions").elements().asScala.map(_.asInt()).toSeq,
          // optional (pre-r9 manifests lack it): block-level ts index
          if (n.has("tsIdx"))
            n.get("tsIdx").elements().asScala.collect {
              case e if e.isArray && e.size == 3 =>
                OcfTsIdxEntry(e.get(0).asLong(), e.get(1).asLong(),
                  e.get(2).asLong())
            }.toSeq
          else Seq.empty,
          // optional (pre-r10 manifests lack it): key Bloom filter
          if (n.has("keyBloom")) OcfKeyBloom.fromJson(n.get("keyBloom"))
          else None,
          // optional (pre-r11 manifests lack it): container codec —
          // metadata-only storage-efficiency signal for advise()
          if (n.has("codec")) Some(n.get("codec").asText()) else None))
      else None // unknown manifest line: ignore (forward-compat)
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** File-pruning predicate evaluation over container stats. A filter is
  * "supported" if it can be decided against (partition set,
  * offset min-max, timestamp min-max); `mayMatch` is conservative —
  * it only drops a file when NO row can satisfy every pushed
  * conjunct.
  */
object OcfFilters {
  private val statCols = Set("partition", "offset", "timestamp")

  def supported(f: Filter): Boolean = f match {
    // key predicates decide against the manifest's key Bloom filter /
    // null census (containers written without one never prune)
    case EqualTo("key", v)  => v != null && v.isInstanceOf[Array[Byte]]
    case In("key", vs) =>
      vs != null && vs.nonEmpty &&
        vs.forall(v => v != null && v.isInstanceOf[Array[Byte]])
    case IsNull("key")      => true
    case IsNotNull("key")   => true
    case EqualTo(c, v)            => statCols(c) && v != null
    case GreaterThan(c, v)        => statCols(c) && v != null
    case LessThan(c, v)           => statCols(c) && v != null
    case GreaterThanOrEqual(c, v) => statCols(c) && v != null
    case LessThanOrEqual(c, v)    => statCols(c) && v != null
    case In(c, vs) =>
      statCols(c) && vs != null && vs.nonEmpty && vs.forall(_ != null)
    case _ => false
  }

  /** Filter literal → the stat domain (timestamps: epoch micros).
    * None for any literal type outside the whitelist — the advisory
    * contract forbids pruning (let alone failing) on a value the
    * stats can't decide, so an unexpected literal means "may match",
    * never an exception.
    */
  private def lit(c: String, v: Any): Option[Long] =
    if (c == "timestamp") v match {
      case t: java.sql.Timestamp => Some(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
      case i: java.time.Instant => Some(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
      case _ => None
    } else v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }

  private def bounds(st: OcfFileStats, c: String): (Long, Long) = c match {
    case "offset"    => (st.minOffset, st.maxOffset)
    case "timestamp" => (st.minTsUs, st.maxTsUs)
    case "partition" =>
      (st.partitions.min.toLong, st.partitions.max.toLong)
  }

  def mayMatch(st: OcfFileStats, filters: Array[Filter]): Boolean =
    st.count == 0L || st.partitions.isEmpty ||
      filters.forall(f => mayMatchOne(st, f))

  /** Keep a listed file unless its stats PROVE no row can match; a
    * file absent from the manifest is kept conservatively.
    */
  def mayMatch(f: OcfLiveFile, filters: Array[Filter]): Boolean =
    filters.isEmpty || f.stats.forall(mayMatch(_, filters))

  private def mayMatchOne(st: OcfFileStats, f: Filter): Boolean = f match {
    // key predicates: Bloom membership + null census. Stats without a
    // keyBloom (writer never opted in, or a pre-r10 manifest) keep the
    // file — `forall` on the Option is the conservative default.
    case EqualTo("key", v: Array[Byte]) =>
      st.keyBloom.forall(_.mightContain(v))
    case In("key", vs) =>
      st.keyBloom.forall(kb => vs.exists {
        case b: Array[Byte] => kb.mightContain(b)
        case _ => true
      })
    case IsNull("key") => st.keyBloom.forall(_.nulls > 0L)
    case IsNotNull("key") => st.keyBloom.forall(_.nulls < st.count)
    // partition has an exact (small) value set — use it for equality
    case EqualTo("partition", v) =>
      lit("partition", v).forall(x => st.partitions.contains(x.toInt))
    case In("partition", vs) =>
      vs.exists(v => lit("partition", v).forall(x =>
        st.partitions.contains(x.toInt)))
    case EqualTo(c, v) =>
      val (lo, hi) = bounds(st, c)
      lit(c, v).forall(x => lo <= x && x <= hi)
    case GreaterThan(c, v) =>
      lit(c, v).forall(x => bounds(st, c)._2 > x)
    case GreaterThanOrEqual(c, v) =>
      lit(c, v).forall(x => bounds(st, c)._2 >= x)
    case LessThan(c, v) =>
      lit(c, v).forall(x => bounds(st, c)._1 < x)
    case LessThanOrEqual(c, v) =>
      lit(c, v).forall(x => bounds(st, c)._1 <= x)
    case In(c, vs) =>
      val (lo, hi) = bounds(st, c)
      vs.exists { v => lit(c, v).forall(x => lo <= x && x <= hi) }
    case _ => true // unsupported filter never prunes
  }
}

/** Per-scan observability in the Spark UI (the DSv2 CustomMetric
  * seam, X6's task-level half): every SQL node for a graft-ocf scan
  * reports containers opened, block-header skips (the records jumped
  * over WITHOUT decode to reach mid-file range starts — the cheap
  * part of admission slicing), and records actually decoded. Sum
  * aggregation across tasks, the same surface the built-in file and
  * Kafka sources use.
  */
// Zero-arg metric classes: the SQL UI re-instantiates each
// CustomMetric by reflection to aggregate task values — a
// constructor-parameterized class fails that lookup and Spark logs a
// SparkException per update (noise, and no UI aggregation)
private[sources] final class OcfContainersOpenedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "containersOpened"
  override def description(): String = "containers opened"
}

private[sources] final class OcfRecordsSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "recordsSkipped"
  override def description(): String = "records block-skipped (no decode)"
}

private[sources] final class OcfRecordsDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "recordsDecoded"
  override def description(): String = "records decoded"
}

private case class OcfTaskMetric(name0: String, value0: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = name0
  override def value(): Long = value0
}

object OcfScanMetrics {
  def supported: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new OcfContainersOpenedMetric, new OcfRecordsSkippedMetric,
      new OcfRecordsDecodedMetric)
}

case class OcfReaderFactory(conf: SerializableConfiguration,
                            required: StructType = OcfFormat.sparkSchema)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = p.asInstanceOf[OcfSlice]
    new PartitionReader[InternalRow] {
      private val path = new Path(r.file)
      // a PRUNED reader schema: Avro schema resolution skips writer
      // fields absent from it during decode — unused key/value byte
      // blobs are seeked over, never allocated
      private val dataSchema = OcfFormat.dataFields(required)
      private val stream = new DataFileStream[GenericRecord](
        path.getFileSystem(conf.value).open(path),
        new GenericDatumReader[GenericRecord](null: org.apache.avro.Schema,
          OcfFormat.prunedAvroSchema(dataSchema)))
      private val toRow = OcfFormat.rowExtractor(dataSchema)
      // metadata-column plan: -1 = _container, -2 = _pos, else the
      // ordinal into the data row; resolved once per reader
      private val metaPlan: Array[Int] = {
        var di = -1
        required.fields.map(_.name match {
          case OcfFormat.ContainerCol => -1
          case OcfFormat.PosCol => -2
          case _ => di += 1; di
        })
      }
      private val hasMeta = metaPlan.exists(_ < 0)
      private val containerName =
        org.apache.spark.unsafe.types.UTF8String
          .fromString(path.getName)
      private var skipped = 0L
      private var decoded = 0L
      // skip to the range start by BLOCK headers (no record decode)
      // first, then decode only the in-block remainder — repeated
      // admission-controlled slices of one large file stay O(blocks),
      // not O(records x slices)
      private var idx = 0L
      while (idx < r.start && stream.hasNext &&
        idx + stream.getBlockCount <= r.start) {
        idx += stream.getBlockCount
        skipped += stream.getBlockCount
        stream.nextBlock()
      }
      // in-block positioning decodes records it will not emit — that
      // is real decode work, so it counts in recordsDecoded (skipped
      // counts only the header-walk jumps that decode nothing)
      while (idx < r.start && stream.hasNext) {
        stream.next(); idx += 1; decoded += 1
      }
      private var current: GenericRecord = _

      override def next(): Boolean =
        if (idx < r.end && stream.hasNext) {
          current = stream.next(); idx += 1; decoded += 1; true
        } else false
      override def get(): InternalRow =
        if (!hasMeta) toRow(current)
        else {
          val dr = toRow(current)
          val vals = new Array[Any](required.length)
          var i = 0
          while (i < metaPlan.length) {
            vals(i) = metaPlan(i) match {
              case -1 => containerName
              case -2 => idx - 1 // idx already advanced past current
              case j => dr.get(j, dataSchema(j).dataType)
            }
            i += 1
          }
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(vals)
        }
      override def close(): Unit = stream.close()
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        Array(OcfTaskMetric("containersOpened", 1L),
          OcfTaskMetric("recordsSkipped", skipped),
          OcfTaskMetric("recordsDecoded", decoded))
    }
  }
}

/** The store's owner: its on-disk layout (the only code that builds or
  * classifies a file name), listing, per-file record counts, snapshots
  * and timestamp seeks — everything driver-side the reader, the writer
  * and maintenance need to know about a store directory.
  */
object OcfStore extends org.apache.spark.internal.Logging {
  /** The session's Hadoop configuration (spark.hadoop.*, credentials).
    * Driver-side only.
    */
  def driverConf(): Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  /** Block counts per qualified store dir, then per (name, length,
    * mtime): a listing evicts only its own store's stale entries.
    */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, StoreCounts]()
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Map[String, OcfFileStats]]()
  /** Containers opened for block-count fallback — test-observable so
    * OcfSourceSpec can assert a manifested store serves latestOffset()
    * with ZERO container opens.
    */
  private[sources] val containerOpens =
    new java.util.concurrent.atomic.AtomicLong(0L)

  // ---- the on-disk layout: every name the store writes or reads ---- //
  // Visible names are the store's state: containers, stats manifests,
  // snapshots (`_snapshot-<millis>-<nonce>.list`, zero-padded so
  // lexical order is time order) and epoch markers. A batch write's
  // names carry its queryId; a streaming epoch's carry the writer's
  // queryId AND `-e<epochId>`. Everything a reader must ignore is
  // dot-prefixed: staged temps (`.<name>.tmp`) and retired files
  // (`.<name>.stale`) — crash debris once aged, collected by vacuum.

  /** THE container-visibility rule — one definition for the reader
    * listing, the rewrite witness, and the overwrite commit's retire
    * set, so they can never drift apart.
    */
  def isLiveContainer(name: String): Boolean =
    name.endsWith(".ocf") && !name.startsWith(".")
  def isManifest(name: String): Boolean =
    !name.startsWith(".") && name.startsWith("_manifest-") &&
      name.endsWith(".ndjson")
  def isSnapshot(name: String): Boolean =
    !name.startsWith(".") && name.startsWith("_snapshot-") &&
      name.endsWith(".list")
  def isDebris(name: String): Boolean =
    name.startsWith(".") &&
      (name.endsWith(".tmp") || name.endsWith(".stale"))
  def snapshotMillis(name: String): Option[Long] =
    name.stripPrefix("_snapshot-").take(20).toLongOption

  /** (writer scope, epoch id) of an epoch marker: the id is the suffix
    * after the last dash; the legacy un-scoped `_epoch-<id>` has scope "".
    */
  def epochMarker(name: String): Option[(String, Long)] =
    if (!name.startsWith("_epoch-")) None
    else {
      val body = name.stripPrefix("_epoch-")
      val cut = body.lastIndexOf('-')
      val (writer, epoch) =
        if (cut < 0) ("", body) else (body.take(cut), body.drop(cut + 1))
      epoch.toLongOption.map(e => (writer, e))
    }

  /** What an attempt of writer `queryId`'s epoch installed — the orphans
    * a replay over a partial install retires.
    */
  def isEpochInstall(name: String, queryId: String,
                     epochId: Long): Boolean =
    (isLiveContainer(name) && name.startsWith(s"part-$queryId-") &&
      name.endsWith(s"-e$epochId.ocf")) ||
      name == manifestName(queryId, Some(epochId))

  private def epochTag(epoch: Option[Long]): String =
    epoch.fold("")(e => s"-e$e")
  def containerName(queryId: String, partitionId: Int,
                    epoch: Option[Long]): String =
    f"part-$queryId-$partitionId%05d${epochTag(epoch)}.ocf"
  /** The task id keeps retried and speculative attempts apart. */
  def tempName(queryId: String, partitionId: Int, taskId: Long,
               epoch: Option[Long]): String =
    tempOf(s"part-$queryId-$partitionId-$taskId${epochTag(epoch)}.ocf")
  def manifestName(queryId: String, epoch: Option[Long]): String =
    s"_manifest-$queryId${epochTag(epoch)}.ndjson"
  /** `z` sorts after every writer manifest (queryIds are hex UUIDs), so
    * `compactManifests`' output wins the last-by-name merge.
    */
  def consolidatedManifestName(millis: Long): String =
    s"_manifest-z$millis.ndjson"
  def tempOf(name: String): String = s".$name.tmp"
  def retiredName(name: String): String = s".$name.stale"
  def epochMarkerName(queryId: String, epochId: Long): String =
    s"_epoch-$queryId-$epochId"
  def snapshotName(millis: Long, nonce: String): String =
    f"_snapshot-$millis%020d-$nonce.list"

  /** One LIST of a store directory: its filesystem and entries (none
    * for an absent store) — where every driver-side walk starts.
    */
  def list(dir: String, conf: Configuration)
      : (FileSystem, Seq[FileStatus]) = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    (fs, if (fs.exists(d)) fs.listStatus(d).toSeq else Seq.empty)
  }

  /** TIME TRAVEL, write side: record the store's live-container set
    * after a commit that changed it — one `_snapshot-<millis>-<nonce>
    * .list` per commit (zero-padded millis so lexical order IS time
    * order; the nonce keeps concurrent writers from colliding). The
    * Iceberg-snapshot role in the store's own idiom: the log is plain
    * names, metadata-scale, and readers never parse it unless a
    * `timestampAsOf` read asks. Concurrent commits may interleave —
    * the LAST snapshot at-or-before a requested timestamp wins,
    * eventually-consistent exactly like reading a topic's high-water
    * mark.
    */
  def writeSnapshot(dir: String, conf: Configuration): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) return
    val names = fs.listStatus(d).map(_.getPath.getName)
      .filter(isLiveContainer).sorted
    val p = new Path(d, snapshotName(System.currentTimeMillis(),
      java.util.UUID.randomUUID().toString.take(8)))
    val out = fs.create(p, false)
    try out.write((names.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Snapshot census for the catalog surface: (commit millis, file
    * name, container count) per snapshot, oldest first — Iceberg's
    * `snapshots` metadata-table role.
    */
  def listSnapshots(dir: String, conf: Configuration)
      : Seq[(Long, String, Int)] = {
    val (fs, listing) = list(dir, conf)
    snapshots(listing).map { case (ts, p) =>
      (ts, p.getName, readSnapshot(fs, p).size)
    }.sortBy(t => (t._1, t._2))
  }

  /** (commit millis, path) of every snapshot in a listing. */
  private def snapshots(listing: Seq[FileStatus]): Seq[(Long, Path)] =
    listing.map(_.getPath).filter(p => isSnapshot(p.getName))
      .flatMap(p => snapshotMillis(p.getName).map(ts => (ts, p)))

  private def readSnapshot(fs: FileSystem, p: Path): List[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** TIME TRAVEL, read side: the container names of the latest
    * snapshot at-or-before `asOfMillis`. Errors loudly when the store
    * has no snapshot that old — silently reading the CURRENT set
    * would be a wrong-answer time machine.
    */
  def snapshotAt(dir: String, conf: Configuration,
                 asOfMillis: Long): Seq[String] = {
    val (fs, listing) = list(dir, conf)
    snapshotIn(dir, fs, listing, asOfMillis)
  }

  private def snapshotIn(dir: String, fs: FileSystem,
                         listing: Seq[FileStatus],
                         asOfMillis: Long): Seq[String] = {
    if (listing.isEmpty)
      throw new IllegalArgumentException(
        s"graft-ocf: no store at $dir to time-travel")
    val snaps = snapshots(listing).filter(_._1 <= asOfMillis)
    if (snaps.isEmpty)
      throw new IllegalArgumentException(
        s"graft-ocf: $dir has no snapshot at or before $asOfMillis " +
          "(the store predates snapshot logging, or the timestamp is " +
          "before its first commit)")
    readSnapshot(fs, snaps.maxBy { case (ts, p) => (ts, p.getName) }._2)
  }

  /** CHANGE DATA FEED's container diff: the containers live in the
    * snapshot at `toMillis` but absent from the one at `fromMillis`,
    * sorted — the appends the store received in (from, to].
    */
  def snapshotDiff(dir: String, conf: Configuration, fromMillis: Long,
                   toMillis: Long): Seq[String] = {
    val (fs, listing) = list(dir, conf)
    val from = snapshotIn(dir, fs, listing, fromMillis).toSet
    snapshotIn(dir, fs, listing, toMillis).filterNot(from).sorted
  }

  /** The [[snapshotDiff]] containers as the `toMillis` listing sees
    * them (record counts, bytes, stats), from one LIST — the catalog
    * `changes` census.
    */
  def changedFiles(dir: String, conf: Configuration, fromMillis: Long,
                   toMillis: Long): Seq[OcfLiveFile] = {
    val (fs, listing) = list(dir, conf)
    val from = snapshotIn(dir, fs, listing, fromMillis).toSet
    filesIn(dir, fs, listing, snapshotIn(dir, fs, listing, toMillis))
      .map(_._2).filterNot(f => from(f.name))
  }

  /** The as-of listing twin of [[liveFiles]], as (full path, file):
    * resolve each snapshot container to its current location — still
    * live under its own name, or retired-but-kept under its retired
    * name (the `keepRetired` writer option; vacuum's age gate is the
    * time-travel horizon).
    * A name resolving to neither is a loud error: the data was
    * vacuumed (or retired without keepRetired) and the snapshot can
    * no longer be served.
    */
  def filesAsOf(dir: String, conf: Configuration,
                asOfMillis: Long): Seq[(String, OcfLiveFile)] = {
    val (fs, listing) = list(dir, conf)
    filesIn(dir, fs, listing, snapshotIn(dir, fs, listing, asOfMillis))
  }

  /** Resolve snapshot container names against one listing, sorted. */
  private def filesIn(dir: String, fs: FileSystem,
                      listing: Seq[FileStatus],
                      names: Seq[String]): Seq[(String, OcfLiveFile)] = {
    val d = new Path(dir)
    val byName = listing.map(st => st.getPath.getName -> st).toMap
    val stats = manifestStatsFrom(fs, listing)
    val counts = storeCounts(fs, dir)
    names.sorted.map { name =>
      val st = byName.get(name)
        .orElse(byName.get(retiredName(name)))
        .getOrElse(throw new IllegalStateException(
          s"graft-ocf: snapshot container $name of $dir is gone " +
            "(vacuumed, or retired without keepRetired=true) — this " +
            "timestamp is beyond the store's time-travel horizon"))
      (new Path(d, st.getPath.getName).toString,
        liveFile(counts, fs, st, name, stats))
    }
  }

  /** A container as a listing sees it: the manifest's count when the
    * file is manifested, else the memoized block-header count.
    */
  private def liveFile(counts: StoreCounts, fs: FileSystem,
                       st: FileStatus, name: String,
                       stats: Map[String, OcfFileStats]): OcfLiveFile = {
    val fstats = stats.get(name)
    OcfLiveFile(name,
      fstats.map(_.count).getOrElse(blockCount(counts, fs, st)),
      st.getLen, fstats)
  }

  private type StoreCounts =
    java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Long]

  private def storeCounts(fs: FileSystem, dir: String): StoreCounts =
    countCache.computeIfAbsent(fs.makeQualified(new Path(dir)).toString,
      _ => new StoreCounts())

  /** Record count from Avro container BLOCK headers (no record decode)
    * for a container the manifest does not cover, memoized per store
    * by (name, length, mtime): committed containers are immutable (the V2 writer
    * renames a finished temp into place, never appends), so a cache
    * hit is always valid and a rewritten file busts the key.
    */
  private def blockCount(counts: StoreCounts, fs: FileSystem,
                         st: FileStatus): Long =
    counts.computeIfAbsent(
      (st.getPath.getName, st.getLen, st.getModificationTime), _ => {
        containerOpens.incrementAndGet()
        val s = new DataFileStream[GenericRecord](
          fs.open(st.getPath), new GenericDatumReader[GenericRecord]())
        try {
          var c = 0L
          while (s.hasNext) { c += s.getBlockCount; s.nextBlock() }
          c
        } finally s.close()
      })

  private def parseManifest(fs: FileSystem,
                            p: Path): Map[String, OcfFileStats] = {
    val in = fs.open(p)
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      src.getLines().filter(_.trim.nonEmpty).flatMap { line =>
        val st = OcfFileStats.fromJson(line)
        if (st.isEmpty)
          // conservative: an unparseable line only loses pruning for
          // its file (kept "may match"), never correctness — but say so
          logWarning(s"graft-ocf: skipping unparseable manifest line " +
            s"in $p: ${line.take(200)}")
        st
      }.map(s => s.file -> s).toMap
    } finally in.close()
  }

  /** Per-file commit-time stats from `_manifest-*.ndjson`, last
    * manifest (by name) winning on duplicate file keys. Parsed
    * manifests are memoized per (path, length, mtime) — manifests are
    * install-once like containers. Files absent here are simply
    * un-pruned and block-counted (pre-manifest stores keep working).
    */
  def manifestStats(dir: String, conf: Configuration)
      : Map[String, OcfFileStats] = {
    val (fs, listing) = list(dir, conf)
    manifestStatsFrom(fs, listing)
  }

  private[sources] def manifestStatsFrom(
      fs: FileSystem,
      listing: Seq[FileStatus])
      : Map[String, OcfFileStats] =
    listing.filter(st => isManifest(st.getPath.getName))
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        val key = (st.getPath.toString, st.getLen, st.getModificationTime)
        manifestCache.computeIfAbsent(key,
          _ => parseManifest(fs, st.getPath)).toSeq
      }.toMap

  /** Record count per live container. Counts come from the commit
    * manifest when present (no container bytes touched — the
    * broker-head-offset role); unmanifested files fall back to the
    * memoized block-header count. The streaming engine calls
    * latestOffset twice per trigger — with the manifest the
    * steady-state cost is one file listing.
    */
  def headCounts(dir: String, conf: Configuration): Map[String, Long] =
    liveFiles(dir, conf).map(f => f.name -> f.count).toMap

  /** Kafka `startingOffsetsByTimestamp` for the store: per live
    * container, the cursor of the FIRST record whose timestamp is
    * at-or-after `tsUs` (the consumer seek position; count = skip the
    * whole file). Manifest stats resolve most files without opening
    * them (minTsUs >= ts => 0, maxTsUs < ts => count); only boundary
    * or unmanifested containers are scanned, driver-side, with the
    * timestamp-only pruned reader schema — the payload blobs are
    * seeked over, never allocated.
    */
  def cursorsAtTimestamp(dirs: Seq[String], tsUs: Long,
                         conf: Configuration): Map[String, Long] =
    cursorsAtTimestamps(keyedFiles(dirs, conf), Seq(tsUs),
      conf)(tsUs)

  /** Several seek timestamps resolved against ONE listing: each
    * container is consulted once — stats answer what they can, and a
    * boundary/unmanifested container gets a SINGLE driver scan that
    * resolves every still-open timestamp in one pass (the batch
    * time-slice's start and stop cursors shared one decode). Callers
    * that already hold a listing pass it in, so planning never lists
    * the store twice and a container committed between listings can't
    * slip half-resolved into the plan.
    */
  def cursorsAtTimestamps(files: Seq[(String, String, OcfLiveFile)],
                          tss: Seq[Long], conf: Configuration)
      : Map[Long, Map[String, Long]] = {
    val distinctTs = tss.distinct
    val acc = distinctTs
      .map(ts => ts -> Map.newBuilder[String, Long]).toMap
    files.foreach { case (key, path, f) =>
      val byStats: Map[Long, Option[Long]] = distinctTs.map { ts =>
        ts -> (f.stats match {
          case Some(st) if st.minTsUs >= ts => Some(0L)
          case Some(st) if st.maxTsUs < ts => Some(f.count)
          case _ => None
        })
      }.toMap
      val need = distinctTs.filter(ts => byStats(ts).isEmpty)
      val scanned: Map[Long, Long] =
        if (need.isEmpty) Map.empty
        else firstIndicesAtOrAfter(path, f.stats, need, conf)
      distinctTs.foreach { ts =>
        acc(ts) += key -> byStats(ts).getOrElse(scanned(ts))
      }
    }
    acc.map { case (ts, b) => ts -> b.result() }
  }

  /** Records decoded by timestamp seeks since JVM start — the
    * block-skip effectiveness counter (driver-side only; tests assert
    * a deep seek into an indexed mega-container decodes one segment,
    * not the file).
    */
  private[sources] val seekRecordsDecoded =
    new java.util.concurrent.atomic.AtomicLong()

  /** The boundary-container scan: first record index at-or-after each
    * requested timestamp. With a manifest block index
    * (`OcfFileStats.tsIdx`) the scan SEEKS to the first segment whose
    * maxTs can hold a qualifying record — every leading segment is
    * skipped without touching its bytes (records there all carry
    * timestamps below every still-open seek target, so the answer
    * cannot lie in them); without one it decodes sequentially from
    * record 0 (pre-index stores keep working). Either way the payload
    * blobs are seeked over via the timestamp-only pruned reader
    * schema, never allocated.
    */
  private def firstIndicesAtOrAfter(path: String,
                                    stats: Option[OcfFileStats],
                                    tss: Seq[Long],
                                    conf: Configuration): Map[Long, Long] = {
    val p = new Path(path)
    val tsOnly = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.TimestampType)))
    val datum = new GenericDatumReader[GenericRecord](
      null: org.apache.avro.Schema, OcfFormat.prunedAvroSchema(tsOnly))
    val idx = stats.map(_.tsIdx).getOrElse(Seq.empty)
    // per target: the first record index that could qualify, and the
    // sync position to seek there (-1 = file head)
    def startFor(ts: Long): (Long, Long) =
      if (idx.isEmpty) (0L, -1L)
      else idx.indexWhere(_.maxTsUs >= ts) match {
        case 0 => (0L, -1L)
        case -1 => (idx.last.endCount, idx.last.nextPos) // tail only
        case i => (idx(i - 1).endCount, idx(i - 1).nextPos)
      }
    val (startIdx, seekPos) = tss.map(startFor).minBy(_._1)
    val stream: DataFileStream[GenericRecord] =
      if (seekPos < 0L)
        new DataFileStream[GenericRecord](p.getFileSystem(conf).open(p),
          datum)
      else {
        val r = new org.apache.avro.file.DataFileReader[GenericRecord](
          new org.apache.avro.mapred.FsInput(p, conf), datum)
        r.seek(seekPos)
        r
      }
    try {
      val out = scala.collection.mutable.Map.empty[Long, Long]
      val pending = scala.collection.mutable.Set(tss: _*)
      var i = startIdx
      while (stream.hasNext && pending.nonEmpty) {
        val r = stream.next()
        seekRecordsDecoded.incrementAndGet()
        val rts = r.get("timestamp_us").asInstanceOf[Long]
        val hit = pending.filter(rts >= _).toSeq
        hit.foreach { ts => out(ts) = i; pending -= ts }
        i += 1
      }
      // targets unresolved at EOF: i = startIdx + records after the
      // seek point = the file record count, the skip-whole-file cursor
      pending.foreach(ts => out(ts) = i)
      out.toMap
    } finally stream.close()
  }

  private[sources] def isGlob(p: String): Boolean =
    p.exists("*?[{".contains(_))

  /** Expand glob store paths (S3 — store DISCOVERY, the engine-owned
    * twin of the reference's 15 s topic-partition discovery timer,
    * reference `…InputDStream.scala:64-72,266-285`): literal dirs pass
    * through, glob dirs list their current matches. Called per
    * trigger by the streaming side, so a store directory that appears
    * AFTER the stream starts is discovered at the next trigger and
    * its cursors start at 0 — no restart, exactly as the reference
    * registers newly-found partitions on the fly.
    */
  def expandDirs(dirs: Seq[String], conf: Configuration): Seq[String] =
    dirs.flatMap { d =>
      if (!isGlob(d)) Seq(d)
      else {
        val p = new Path(d)
        val fs = p.getFileSystem(conf)
        Option(fs.globStatus(p)).toSeq.flatten
          .filter(_.isDirectory)
          // full qualified path, NOT toUri.getPath: stripping the
          // scheme/authority would re-resolve s3a://bucket/... matches
          // against the default filesystem (wrong bucket, or failure)
          .map(_.getPath.toString)
      }
    }.distinct.sorted

  /** The multi-store listing as (stable key, full path, file) — the
    * live containers, or with `asOfMillis` every store's snapshot set
    * at that timestamp. One LITERAL store keeps plain basenames as
    * keys — existing checkpoints stay readable; several stores (or any
    * glob, whose expansion can grow) qualify the key with its
    * directory, so same-named containers in different stores never
    * collide in the offset map. Keys sort in (dir, name) order either
    * way. Glob expansion runs against the CURRENT directory listing (a
    * store that exists now but has no snapshot that old fails loudly
    * in filesAsOf — never a silent partial read).
    */
  def keyedFiles(dirs: Seq[String], conf: Configuration,
                 asOfMillis: Option[Long] = None)
      : Seq[(String, String, OcfLiveFile)] = {
    def files(d: String): Seq[(String, OcfLiveFile)] = asOfMillis match {
      case Some(t) => filesAsOf(d, conf, t)
      case None => liveFiles(d, conf).map(f => (s"$d/${f.name}", f))
    }
    if (dirs.sizeIs == 1 && !isGlob(dirs.head))
      files(dirs.head).map { case (p, f) => (f.name, p, f) }
    else expandDirs(dirs, conf).flatMap { d =>
      files(d).map { case (p, f) => (s"$d/${f.name}", p, f) }
    }
  }

  /** One listing's full view of the store: every live container with
    * its record count, byte length, and (when manifested) commit-time
    * stats — the single driver-side walk behind head counts, file
    * pruning, and scan statistics. Sorted by name (= commit order).
    */
  def liveFiles(dir: String, conf: Configuration): Seq[OcfLiveFile] = {
    val (fs, listing) = list(dir, conf)
    val files = listing
      .filter(st => isLiveContainer(st.getPath.getName))
    val stats = manifestStatsFrom(fs, listing)
    // evict this store's superseded keys (rewritten or vanished
    // files) so a long-running driver over a churning store doesn't
    // leak cache entries
    val counts = storeCounts(fs, dir)
    val live = files
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .toSet
    counts.keySet.removeIf(k => !live.contains(k))
    files
      .map(st => liveFile(counts, fs, st, st.getPath.getName, stats))
      .sortBy(_.name)
  }
}

/** A live container as one store listing sees it: record count (from
  * manifest or block headers), on-disk byte length, and commit-time
  * stats when the file is manifested.
  */
case class OcfLiveFile(name: String, count: Long, bytes: Long,
                       stats: Option[OcfFileStats])
