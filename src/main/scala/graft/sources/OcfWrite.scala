package graft.sources

import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

/** S8 — the record-store write path as the full DataSourceV2 commit
  * protocol: each task writes a temp container, the driver renames
  * committed temps into place — exactly-once files under task retry
  * (an aborted or speculative attempt's temp is never renamed). This
  * replaces the reference's fire-and-forget store() push with the
  * engine-owned transactional sink.
  *
  * The write declares `RequiresDistributionAndOrdering`: Spark
  * clusters rows by the Kafka partition column and sorts by
  * (partition, offset) BEFORE the writers run, so each container holds
  * offset-ordered runs per partition — the broker-log layout replay
  * needs — without the writer doing its own shuffle.
  */
class OcfWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  // layout=partition (default): cluster containers by the Kafka
  //   partition column — broker-log layout, single-partition files,
  //   shuffle-free keyed scans (SupportsReportPartitioning).
  // layout=time: range-distribute on (timestamp, partition, offset) —
  //   every container covers a TIGHT time slice, so the manifest's
  //   timestamp min-max prunes most of a long-lived store for
  //   time-range queries (the OPTIMIZE-BY-time / Z-order role; trades
  //   away the single-partition-per-file property).
  // targetFiles=N (optional): required shuffle partition count for the
  //   write — the compaction knob for choosing container count.
  // layout=presorted: NO required distribution/ordering — the caller
  //   already laid the frame out (OcfMaintenance.clusterZOrder
  //   range-partitions + sorts on a Morton-interleaved (partition,
  //   time) key the DSv2 ordering API cannot express) and the sink
  //   must not reshuffle it.
  private val timeLayout =
    "time".equalsIgnoreCase(info.options.get("layout"))
  private val presorted =
    "presorted".equalsIgnoreCase(info.options.get("layout"))
  private val targetFiles =
    Option(info.options.get("targetFiles")).map(_.toInt).getOrElse(0)
  // expectedContainers=<comma list of .ocf basenames>: optimistic
  // concurrency for whole-store rewrites — the overwrite commit aborts
  // if the store holds containers the rewrite never read (a writer
  // installed an epoch mid-rewrite), instead of silently retiring them
  private val expectedContainers: Option[Set[String]] =
    Option(info.options.get("expectedContainers"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
  // keyBloomBits=N (optional, 0=off): each container's manifest entry
  // carries an N-bit Bloom filter over record keys (+ null-key
  // census), so key-equality scans skip containers without opening
  // them — the compacted-topic point-lookup path. Rounded up to a
  // power of two; ~10 bits per expected distinct key ≈ 1% FPP.
  private val keyBloomBits =
    Option(info.options.get("keyBloomBits")).map(_.toInt).getOrElse(0)
  // keepRetired=true: an overwrite RENAMES the old generation to
  // hidden retired files instead of deleting them, so timestampAsOf
  // reads can still serve pre-rewrite snapshots until vacuum's age
  // gate collects them — the time-travel retention window
  private val keepRetired =
    "true".equalsIgnoreCase(info.options.get("keepRetired"))
  // codec=null|deflate|snappy|zstandard[:level] — Avro OCF container
  // compression. At 100 TB the payload bytes dominate storage and
  // scan I/O; the codec rides the container header, so readers (and
  // the block-skip seek) need no option at all. Validated HERE so a
  // typo fails the job at planning, not per task.
  private val codec: String = {
    val c = Option(info.options.get("codec")).getOrElse("null")
    OcfCodec.validate(c)
    c
  }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    override def requiredDistribution(): Distribution =
      if (presorted) Distributions.unspecified()
      else if (timeLayout) Distributions.ordered(timeOrder)
      else Distributions.clustered(Array(Expressions.identity("partition")))
    override def requiredOrdering(): Array[SortOrder] =
      if (presorted) Array.empty
      else if (timeLayout) timeOrder
      else Array(
        Expressions.sort(Expressions.column("partition"),
          SortDirection.ASCENDING),
        Expressions.sort(Expressions.column("offset"),
          SortDirection.ASCENDING))
    override def requiredNumPartitions(): Int = targetFiles
    private def timeOrder: Array[SortOrder] = Array(
      Expressions.sort(Expressions.column("timestamp"),
        SortDirection.ASCENDING),
      Expressions.sort(Expressions.column("partition"),
        SortDirection.ASCENDING),
      Expressions.sort(Expressions.column("offset"),
        SortDirection.ASCENDING))
    // container names carry the write job's queryId so an `append` of
    // a later generation can never rename over an earlier one
    private def factory = OcfWriterFactory(dir, info.queryId(),
      new SerializableConfiguration(OcfStore.driverConf()), keyBloomBits,
      codec)
    override def toBatch: BatchWrite =
      new OcfBatchWrite(factory, doTruncate, expectedContainers, keepRetired)

    /** S8/S9 — the streaming ingestion sink the reference IS: a
      * Structured Streaming epoch writes one generation of containers
      * plus its stats manifest, committed exactly-once under epoch
      * replay (driver crash between checkpoint and sink commit, or a
      * restarted query re-running its last epoch). The commit point is
      * a zero-byte per-(writer, epoch) marker created AFTER
      * containers and manifest are visible: a replayed epoch whose
      * marker exists is dropped whole; a replay over a partial install
      * (marker absent) first retires every container and manifest of
      * the failed attempt (`OcfStore.isEpochInstall`), so the store
      * never double-counts an epoch.
      *
      * Epoch state is scoped PER WRITER (the queryId Spark passes here
      * is the checkpoint-stable streaming query id, so a restart
      * replays under the same scope): several concurrent streaming
      * queries may append to one store — their epoch numberings are
      * independent, and one writer's marker or sweep can never drop or
      * retire another writer's installs. The multi-producer topic,
      * exactly as brokers allow.
      */
    override def toStreaming: StreamingWrite = {
      if (doTruncate) throw new UnsupportedOperationException(
        "graft-ocf streaming sink supports Append output mode only")
      new OcfStreamingWrite(factory)
    }
  }
}

case class OcfCommit(temp: String, dest: String,
                     stats: Option[OcfFileStats] = None)
    extends WriterCommitMessage

/** The driver-side commit steps batch and streaming writes share: one
  * install, one stats-manifest write, one retire, one temp cleanup.
  *
  * Hadoop FileSystem signals most failures by RETURNING FALSE, not
  * throwing — an unchecked rename would report job success while a
  * committed task's container silently never appears in the store.
  * Every rename/delete on the commit path is require()d.
  */
object OcfCommit {
  /** Rename every committed task temp into place; returns the installed
    * container names. A dest can only pre-exist from a retry of THIS
    * write (the queryId is in the name), so replacing it is idempotent.
    */
  def install(fs: FileSystem, messages: Array[WriterCommitMessage])
      : Set[String] =
    messages.collect {
      case OcfCommit(temp, dest, _) if temp.nonEmpty =>
        val t = new Path(temp)
        val dst = new Path(dest)
        if (fs.exists(t)) {
          if (fs.exists(dst))
            require(fs.delete(dst, false),
              s"graft-ocf: failed to replace $dst")
          require(fs.rename(t, dst),
            s"graft-ocf: commit rename $t -> $dst failed")
        }
        dst.getName
    }.toSet

  /** Per-file stats manifest (count + partition/offset/timestamp
    * min-max) for the installed containers, written AFTER them so a
    * reader never sees stats for a file that is not yet visible. Scan
    * planning prunes whole files on pushed filters against these
    * stats, and latestOffset() serves head counts from them without
    * touching container bytes — the Parquet-footer /
    * broker-head-offset role for the record store.
    */
  def writeManifest(fs: FileSystem, dir: Path, name: String,
                    messages: Array[WriterCommitMessage],
                    installed: Set[String]): Unit = {
    val statLines = messages.collect {
      case OcfCommit(temp, dest, Some(st)) if temp.nonEmpty &&
          installed.contains(new Path(dest).getName) =>
        st.copy(file = new Path(dest).getName).toJson
    }
    if (statLines.nonEmpty) {
      val out = fs.create(new Path(dir, name), true)
      try out.write((statLines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Retire files in two steps: RENAME to the hidden retired name
    * first (readers filter dot-files, so each rename atomically
    * removes the file from the read set — a failed delete can then
    * only leave invisible garbage, never a double-counted store), then
    * best-effort delete the hidden file — UNLESS `keep`: then the
    * hidden files stay for `timestampAsOf` reads of earlier snapshots
    * until vacuum's age gate collects them (the time-travel retention
    * window).
    */
  def retire(fs: FileSystem, files: Seq[Path], keep: Boolean): Unit =
    files.foreach { p =>
      val hidden = new Path(p.getParent, OcfStore.retiredName(p.getName))
      require(fs.rename(p, hidden), s"graft-ocf: failed to retire $p")
      if (!keep) fs.delete(hidden, false)
    }

  /** Delete every task temp: the abort cleanup, and the drop of a
    * replayed epoch that is already installed.
    */
  def dropTemps(fs: FileSystem,
                messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case OcfCommit(temp, _, _) if temp != null && temp.nonEmpty =>
        fs.delete(new Path(temp), false)
      case _ => ()
    }
}

class OcfBatchWrite(factory: OcfWriterFactory, truncate: Boolean,
                    expectedContainers: Option[Set[String]] = None,
                    keepRetired: Boolean = false)
    extends BatchWrite {
  import factory.{conf, dir, queryId}
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = factory

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf.value)
    fs.mkdirs(d)
    // overwrite ordering: install the NEW generation first (container
    // names carry the queryId, so they can never collide with an old
    // generation's), retire the old generation LAST — a failure
    // mid-commit leaves the previous store intact instead of deleted
    // with only part of its replacement in place
    val oldFiles: Seq[Path] =
      if (truncate)
        fs.listStatus(d).toSeq.map(_.getPath).filter { p =>
          OcfStore.isLiveContainer(p.getName) ||
            OcfStore.isManifest(p.getName)
        }
      else Seq.empty
    // optimistic-concurrency GUARD (not a lock — it narrows the
    // whole-rewrite hazard window to the commit instant): containers
    // present now that the rewrite never read mean a writer committed
    // mid-rewrite; retiring them would lose that epoch while its
    // marker suppressed replay. Abort — the store is untouched, the
    // rewrite is safely retryable.
    if (truncate) expectedContainers.foreach { exp =>
      val surprise = oldFiles.map(_.getName)
        .filter(OcfStore.isLiveContainer).toSet -- exp
      if (surprise.nonEmpty) {
        abort(messages) // same cleanup Spark runs on commit failure
        throw new java.util.ConcurrentModificationException(
          s"graft-ocf: store $dir gained containers after the rewrite " +
            s"read it (${surprise.toSeq.sorted.mkString(", ")}) — " +
            "aborting the overwrite; retry the rewrite")
      }
    }
    val installed = OcfCommit.install(fs, messages)
    // one manifest per commit
    OcfCommit.writeManifest(fs, d, OcfStore.manifestName(queryId, None),
      messages, installed)
    OcfCommit.retire(fs,
      oldFiles.filterNot(p => installed.contains(p.getName)), keepRetired)
    // time-travel snapshot log: the live set after THIS commit
    OcfStore.writeSnapshot(dir, conf.value)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    OcfCommit.dropTemps(new Path(dir).getFileSystem(conf.value), messages)
}

/** The streaming side of the commit protocol. Epoch-local dest names
  * carry the writer's queryId AND its epoch id, so a replayed
  * attempt's partial install is identifiable (and retirable) by THIS
  * writer's re-run without touching the installs of any other query
  * appending to the same store concurrently. Spark's streaming queryId
  * is the checkpoint-stable query id, so a same-checkpoint restart
  * replays in the same scope; a reset-checkpoint re-run is a new
  * writer whose epoch 0 must append, not collide with the old writer's
  * epoch 0.
  */
class OcfStreamingWrite(factory: OcfWriterFactory) extends StreamingWrite {
  import factory.{conf, dir, queryId}
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = factory

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf.value)
    fs.mkdirs(d)
    val marker = new Path(d, OcfStore.epochMarkerName(queryId, epochId))
    if (fs.exists(marker)) {
      // this epoch was fully installed by a previous attempt OF THIS
      // WRITER — a replay after recovery. Drop its temps; install
      // nothing twice. Another writer's same-numbered epoch has its
      // own marker and never trips this.
      OcfCommit.dropTemps(fs, messages)
      return
    }
    // a previous attempt of THIS WRITER's epoch may have crashed
    // mid-install (marker absent, some containers visible): retire its
    // files first. Scoped by queryId: a concurrent query's epoch-N
    // containers are NOT this writer's orphans.
    OcfCommit.retire(fs, fs.listStatus(d).toSeq.map(_.getPath)
      .filter(p => OcfStore.isEpochInstall(p.getName, queryId, epochId)),
      keep = false)
    val installed = OcfCommit.install(fs, messages)
    // stats manifest after its containers, marker last: the marker is
    // the atomic commit point, and stats are never visible for files
    // that are not
    OcfCommit.writeManifest(fs, d,
      OcfStore.manifestName(queryId, Some(epochId)), messages, installed)
    fs.create(marker, true).close()
    // time-travel snapshot log: the live set after THIS epoch
    OcfStore.writeSnapshot(dir, conf.value)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    OcfCommit.dropTemps(new Path(dir).getFileSystem(conf.value), messages)
}

/** One task-writer factory for both commit paths: a streaming writer
  * carries its epoch id into the container and temp names, a batch
  * writer does not.
  */
case class OcfWriterFactory(dir: String, queryId: String,
                            conf: SerializableConfiguration,
                            keyBloomBits: Int = 0,
                            codec: String = "null")
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = writer(partitionId, taskId, None)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId, Some(epochId))

  private def writer(partitionId: Int, taskId: Long,
                     epoch: Option[Long]): DataWriter[InternalRow] =
    new OcfDataWriter(
      s"$dir/${OcfStore.tempName(queryId, partitionId, taskId, epoch)}",
      s"$dir/${OcfStore.containerName(queryId, partitionId, epoch)}",
      conf, keyBloomBits, codec)
}

/** Codec names accepted by the `codec` writer option — resolved via
  * Avro's own CodecFactory so the accepted set is exactly what the
  * runtime can decode; `zstandard:<level>` picks a level. The codec
  * lives in the container header: readers, the block-count fallback,
  * and the ts-index block-skip seek all work unchanged on compressed
  * stores (Avro sync markers sit between compressed blocks).
  */
object OcfCodec {
  def forName(name: String): CodecFactory = name.toLowerCase match {
    case "null" | "" => CodecFactory.nullCodec()
    case "deflate" => CodecFactory.deflateCodec(
      CodecFactory.DEFAULT_DEFLATE_LEVEL)
    case "snappy" => CodecFactory.snappyCodec()
    case "zstandard" => CodecFactory.zstandardCodec(
      CodecFactory.DEFAULT_ZSTANDARD_LEVEL)
    case z if z.startsWith("zstandard:") =>
      CodecFactory.zstandardCodec(z.stripPrefix("zstandard:").toInt)
    case other => throw new IllegalArgumentException(
      s"graft-ocf: unknown codec '$other' " +
        "(null|deflate|snappy|zstandard[:level])")
  }
  def validate(name: String): Unit = forName(name)
}

class OcfDataWriter(temp: String, dest: String,
                    conf: SerializableConfiguration,
                    keyBloomBits: Int = 0,
                    codec: String = "null")
    extends DataWriter[InternalRow] {
    private var writer: DataFileWriter[GenericRecord] = _
    // running file stats for the commit-time manifest (count +
    // partition/offset/timestamp min-max) — the scan planner's
    // file-pruning statistics, gathered for free as rows stream by
    private var count = 0L
    private var minOff = Long.MaxValue; private var maxOff = Long.MinValue
    private var minTs = Long.MaxValue; private var maxTs = Long.MinValue
    private val parts = scala.collection.mutable.SortedSet[Int]()
    // block-level timestamp index: every `segRecords` records the
    // current Avro block is closed (`sync()`) and the segment's
    // (endCount, maxTs, nextSegmentPos) is recorded — the manifest
    // entry that lets the timestamp seek block-skip a mega-container
    // instead of decoding it from record 0 on the driver. At 4096 a
    // 10M-record mega-container carries ~2.4k manifest triples
    // (~60 KB) and the driver-side seek decodes at most one segment.
    private val segRecords = 4096
    private var segMaxTs = Long.MinValue
    private var lastSegEnd = 0L
    private val tsIdx = scala.collection.mutable.ArrayBuffer[OcfTsIdxEntry]()
    // optional key Bloom filter for point-lookup container skipping
    private val keyBloom: OcfKeyBloom.Builder =
      if (keyBloomBits > 0) new OcfKeyBloom.Builder(keyBloomBits) else null

    override def write(row: InternalRow): Unit = {
      if (writer == null) {
        val p = new Path(temp)
        val fs = p.getFileSystem(conf.value)
        fs.mkdirs(p.getParent)
        writer = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](OcfFormat.schema))
        writer.setCodec(OcfCodec.forName(codec))
        writer.create(OcfFormat.schema, fs.create(p, true))
      }
      writer.append(OcfFormat.toRecord(row))
      count += 1
      parts += row.getInt(3)
      if (keyBloom != null) {
        if (row.isNullAt(0)) keyBloom.addNull()
        else keyBloom.add(row.getBinary(0))
      }
      val off = row.getLong(4); val ts = row.getLong(5)
      if (off < minOff) minOff = off
      if (off > maxOff) maxOff = off
      if (ts < minTs) minTs = ts
      if (ts > maxTs) maxTs = ts
      if (ts > segMaxTs) segMaxTs = ts
      if (count - lastSegEnd >= segRecords) {
        tsIdx += OcfTsIdxEntry(count, segMaxTs, writer.sync())
        lastSegEnd = count
        segMaxTs = Long.MinValue
      }
    }

    override def commit(): WriterCommitMessage =
      if (writer == null) OcfCommit("", "") // empty partition: no file
      else {
        writer.close(); writer = null
        OcfCommit(temp, dest, Some(OcfFileStats(
          new Path(dest).getName, count, minOff, maxOff, minTs, maxTs,
          parts.toSeq, tsIdx.toSeq,
          Option(keyBloom).map(_.result()),
          Some(codec))))
      }

    override def abort(): Unit = {
      if (writer != null) {
        try writer.close() catch { case _: Exception => () }
        writer = null
      }
      val p = new Path(temp)
      p.getFileSystem(conf.value).delete(p, false)
    }

    override def close(): Unit =
      if (writer != null) { writer.close(); writer = null }
}
