package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store maintenance for the graft-ocf record store — the operational
  * pair every log-structured store needs at scale:
  *
  *  - `describe`: the commit manifests as a DataFrame (file, count,
  *    offset/timestamp bounds, partitions) — the monitoring surface a
  *    broker exposes as head/log-start offsets, served without opening
  *    a single container.
  *  - `compact`: rewrite the store through its own source + sink. A
  *    micro-batch trigger cadence leaves a long-lived store as
  *    thousands of small containers (the classic small-files failure
  *    at 100 TB); one compaction pass re-reads and rewrites clustered
  *    by the Kafka partition column (the write's
  *    RequiresDistributionAndOrdering), and AQE coalescing merges the
  *    small inputs into few writer tasks. The existing overwrite
  *    commit protocol makes self-compaction safe: the new generation
  *    installs before the old one is retired, so a crash mid-compact
  *    leaves a readable store (old or new, never neither), and the
  *    fresh commit manifest restores stats-based pruning and keyed
  *    (shuffle-free) scans for the whole store.
  */
object OcfMaintenance {

  /** Manifest stats as a DataFrame; empty (correct-schema) frame for a
    * manifest-less store.
    */
  def describe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    OcfStore.manifestStats(dir, OcfStore.driverConf()).values.toSeq
      .map(st => (st.file, st.count, st.minOffset, st.maxOffset,
        st.minTsUs, st.maxTsUs, st.partitions.map(_.toLong)))
      .toDF("file", "count", "min_offset", "max_offset",
        "min_ts_us", "max_ts_us", "partitions")
  }

  /** Rewrite the store in place; returns (filesBefore, filesAfter).
    *
    * NOT safe under an active streaming WRITER either (true of every
    * whole-store rewrite here: compact/cluster/compactByKey): the
    * overwrite commit retires every current container, and a writer
    * epoch committed between this rewrite's read and its install
    * would lose its containers while its epoch marker survives —
    * suppressing the writer's replay, breaking its exactly-once.
    * Rewrites are maintenance-window operations: stop writers (and
    * for compact/cluster/compactByKey, readers), rewrite, restart.
    *
    * NOT safe under an active streaming reader: stream offsets are
    * per-file cursors keyed by container NAME, and compaction installs
    * a new generation under new names — a live cursor would see the
    * compacted containers as fresh files and replay the whole store.
    * Stop the stream, compact, restart (the restart replays nothing
    * only if its checkpoint is also reset — compaction is a
    * maintenance window operation, exactly as broker log compaction
    * is). Batch readers are unaffected: they plan against a single
    * listing, and the commit installs-new-before-retiring-old.
    */
  def compact(spark: SparkSession, dir: String,
              keepRetired: Boolean = false): (Int, Int) =
    overwrite(dir, keepRetired, _.size)(
      spark.read.format("graft-ocf").load(dir))

  /** The one whole-store rewrite: write `rows` back over `dir` through
    * the overwrite commit, with the live container names as its
    * optimistic-concurrency witness and `keepRetired` passed through;
    * returns `measure` of the live container names before and after.
    *
    * The read fully resolves its file list at planning; the overwrite
    * installs renamed temps only at driver commit, after every read
    * task has finished — same-dir rewrite is ordered, not racy.
    */
  private def overwrite[A](dir: String, keepRetired: Boolean,
                           measure: Seq[String] => A,
                           options: Map[String, String] = Map.empty)
                          (rows: => DataFrame): (A, A) = {
    val live = containerNames(dir)
    val before = measure(live)
    rows.write.format("graft-ocf").options(options)
      .option("expectedContainers", live.mkString(","))
      .option("keepRetired", keepRetired.toString)
      .mode("overwrite").save(dir)
    (before, measure(containerNames(dir)))
  }

  /** Live container basenames — the optimistic-concurrency witness a
    * rewrite hands to its overwrite commit, and the file count
    * `compact`/`cluster`/`clusterZOrder` report. A plain LIST (no
    * record counting — headCounts would open unmanifested containers
    * just to learn their names). Captured before the rewrite's scan
    * lists the store, so a writer epoch landing in that gap is read
    * AND flagged — a conservative spurious abort, never a loss; the
    * rewrite retries.
    */
  private def containerNames(dir: String): Seq[String] =
    OcfStore.list(dir, OcfStore.driverConf())._2.map(_.getPath.getName)
      .filter(OcfStore.isLiveContainer).sorted

  /** Manifest-backed record count of the live store — what
    * `compactByKey` and `eraseKeys` report.
    */
  private def records(dir: String): Long =
    OcfStore.headCounts(dir, OcfStore.driverConf()).values.sum

  /** Kafka `cleanup.policy=compact` as a store rewrite: keep only the
    * highest-offset record per (topic, partition, key) — the broker
    * contract the reference relies on for its offsets/monitor topics'
    * latest-state reads — then reinstall the store through the same
    * overwrite commit as `compact` (new generation before old retires;
    * crash leaves old or new, never neither). Selection runs through
    * the k=1 GroupedTopK operator, so reducer state is ONE row per
    * live key regardless of how deep each key's history is — on a
    * 100 TB compacted topic that is O(keys), where the row_number
    * window form would sort every key's full record history.
    *
    * `dropTombstones=true` additionally deletes keys whose LATEST
    * record has a null value — the cleaner's final-state semantics
    * after `delete.retention.ms`; the default keeps tombstones so
    * downstream consumers still observe the delete markers.
    *
    * Surviving records keep their original offsets (compaction removes
    * records, never renumbers — Kafka's invariant). Same
    * maintenance-window contract as `compact` for concurrent WRITERS
    * (see its scaladoc). Container names do
    * change, so a LIVE streaming reader's per-file cursors vanish and
    * the next trigger re-delivers the compacted survivors once
    * (at-least-once across a maintenance rewrite; checkpoint recovery
    * itself is safe — proven in OcfSourceSpec). Returns
    * (records before, records after), both manifest-backed counts.
    */
  def compactByKey(spark: SparkSession, dir: String,
                   dropTombstones: Boolean = false,
                   keepRetired: Boolean = false): (Long, Long) =
    overwrite(dir, keepRetired, _ => records(dir)) {
      val latest = graft.plans.GroupedTopK(
        spark.read.format("graft-ocf").load(dir),
        Seq("topic", "partition", "key"),
        Seq(("offset", false)), k = 1, rankName = "rnk").drop("rnk")
      if (dropTombstones) latest.filter(col("value").isNotNull)
      else latest
    }

  /** Right-to-be-forgotten (GDPR art. 17) as a store rewrite:
    * PHYSICALLY remove every record whose key matches `keyPred` —
    * not a tombstone, not a filter view; the surviving generation's
    * containers simply do not contain the bytes — then reinstall
    * through the same overwrite commit as `compact` (new generation
    * before old retires; crash leaves old or new, never neither).
    * Combine with `keepRetired=false` (the default) so the retired
    * containers holding the erased bytes are deleted in the same
    * pass; with time travel's `keepRetired=true` snapshots an erasure
    * must ALSO re-erase pinned generations — which is why the default
    * here refuses to keep them.
    *
    * A null-key record never matches (predicate null → keep): erasure
    * keys are subject identifiers, and unkeyed records have none.
    *
    * Surviving records keep their offsets (same invariant as
    * compaction: rewrites remove, never renumber). Scale shape: one
    * predicate-filtered scan + the DSv2 overwrite — no shuffle at
    * all unless the writer repartitions.
    *
    * Returns (records before, records after) — the erasure audit
    * line; both are manifest-backed counts, so the "after" number is
    * what a compliance check would independently verify.
    */
  def eraseKeys(spark: SparkSession, dir: String,
                keyPred: org.apache.spark.sql.Column,
                keepRetired: Boolean = false): (Long, Long) =
    overwrite(dir, keepRetired, _ => records(dir))(
      spark.read.format("graft-ocf").load(dir)
        .filter(!coalesce(keyPred, lit(false))))

  /** Rewrite the store time-clustered: containers range-distributed on
    * (timestamp, partition, offset), so each covers a tight, disjoint
    * time slice and the commit manifest's timestamp min-max prunes
    * most of the store for time-range queries — the record store's
    * analog of Delta's OPTIMIZE ZORDER for the dominant monitoring
    * access path ("what happened between t1 and t2"). A micro-batch
    * ingest cadence produces the worst case this fixes: every epoch's
    * container spans the whole ingest interval per partition, so
    * time predicates prune nothing until re-clustered.
    *
    * `targetFiles` picks the container count (0 = let Spark/AQE
    * decide); size it to store-bytes / desired-container-size.
    * Same maintenance-window caveat as `compact`: not safe under an
    * active streaming reader. Trades the single-partition-per-file
    * keyed-scan property for time pruning — choose the layout per
    * store by its read pattern.
    */
  def cluster(spark: SparkSession, dir: String,
              targetFiles: Int = 0,
              keepRetired: Boolean = false): (Int, Int) =
    overwrite(dir, keepRetired, _.size,
      Map("layout" -> "time", "targetFiles" -> targetFiles.toString))(
      spark.read.format("graft-ocf").load(dir))

  /** Consolidate the per-commit stats manifests into ONE. A
    * micro-batch writer installs one stats manifest per
    * trigger, so a long-lived streaming store accrues thousands of
    * tiny manifests — the metadata twin of the small-files problem
    * (every planner listing parses them all, and retention deletes
    * containers but never their manifest lines). One pass rewrites
    * the merged, LIVE-FILES-ONLY stats as a single manifest and
    * retires the old ones. Returns (manifests before, stale lines
    * dropped).
    *
    * Crash-safe and live-reader-safe: the consolidated file is
    * written dot-prefixed (invisible), renamed into place, and only
    * then are the old manifests deleted. Its name sorts AFTER every
    * writer-generated manifest (`OcfStore.consolidatedManifestName`),
    * so during the crash window where both generations coexist
    * the consolidated stats win the last-by-name merge — and the
    * values are identical anyway, since container files are
    * immutable under append commits. No container bytes move.
    */
  def compactManifests(spark: SparkSession, dir: String): (Int, Long) = {
    val (fs, listing) = OcfStore.list(dir, OcfStore.driverConf())
    val manifests = listing.map(_.getPath)
      .filter(p => OcfStore.isManifest(p.getName))
    if (manifests.isEmpty) return (0, 0L)
    val live = listing.map(_.getPath.getName)
      .filter(OcfStore.isLiveContainer).toSet
    val stats = OcfStore.manifestStatsFrom(fs, listing)
    val (kept, stale) = stats.values.toSeq.partition(s => live(s.file))
    val name = OcfStore.consolidatedManifestName(System.currentTimeMillis())
    val d = new Path(dir)
    val tmp = new Path(d, OcfStore.tempOf(name))
    val out = fs.create(tmp, true)
    try kept.sortBy(_.file)
      .foreach(s => out.write((s.toJson + "\n").getBytes("UTF-8")))
    finally out.close()
    if (!fs.rename(tmp, new Path(d, name)))
      throw new java.io.IOException(
        s"graft-ocf: failed to install consolidated manifest $name")
    manifests.foreach(p => fs.delete(p, false))
    (manifests.size, stale.size.toLong)
  }

  /** Prune old streaming epoch markers. The sink leaves one zero-byte
    * per-(writer, epoch) marker per committed trigger — the
    * replay-dedup record — so a long-lived stream accrues one marker
    * per trigger forever: the metadata small-files problem again
    * (every maintenance listing walks them), solved the same way as
    * `compactManifests` solved the per-commit manifest pile.
    *
    * Safe horizon: Spark re-commits at most the LAST unacknowledged
    * epoch per query on recovery, so only each writer's newest marker
    * is ever consulted again; `keepLast` per writer (default 20) is a
    * deep margin over that, covering even a manually rolled-back
    * checkpoint a few epochs deep. Markers of the legacy un-scoped form
    * group under one writer key and age out the same way. Returns
    * markers deleted.
    */
  def pruneEpochMarkers(spark: SparkSession, dir: String,
                        keepLast: Int = 20): Int = {
    require(keepLast >= 1, "keepLast must be >= 1: the newest marker " +
      "is the live replay-dedup record and must survive")
    val (fs, listing) = OcfStore.list(dir, OcfStore.driverConf())
    val markers = listing.map(_.getPath)
      .flatMap(p => OcfStore.epochMarker(p.getName).map {
        case (writer, e) => (writer, e, p)
      })
    val victims = markers.groupBy(_._1).values.toSeq.flatMap { ms =>
      ms.sortBy(-_._2).drop(keepLast)
    }
    victims.foreach { case (_, _, p) => fs.delete(p, false) }
    victims.size
  }

  /** Broker-style time retention (Kafka `retention.ms`, reference
    * stores its offsets against a broker that enforces exactly this):
    * drop every container whose manifest proves ALL its records are
    * older than `beforeTsUs` (epoch microseconds) — whole segments,
    * never record surgery, exactly as a broker expires whole log
    * segments by their largest timestamp. Unmanifested containers are
    * kept conservatively (no stats, no proof). Returns
    * (containers deleted, records deleted).
    *
    * Safe under a LIVE streaming reader, unlike compact/cluster:
    * deletion never renames surviving containers, so per-file cursors
    * stay valid; a cursor pointing into a deleted container simply
    * vanishes from the next trigger's head listing — the engine-owned
    * twin of Kafka's out-of-range → reset-to-earliest on a truncated
    * log. Stale manifest lines for deleted files are harmless (stats
    * are only ever looked up for files present in the listing).
    */
  def retain(spark: SparkSession, dir: String, beforeTsUs: Long)
      : (Int, Long) =
    expire(dir)(_.filter { case (_, s) =>
      s.count > 0 && s.maxTsUs < beforeTsUs
    })

  /** Broker-style size retention (Kafka `retention.bytes`): keep the
    * newest containers (by manifest max timestamp, name as tiebreak)
    * whose cumulative on-disk size fits `maxBytes`; delete the rest.
    * Unmanifested containers are kept conservatively and don't count
    * toward the budget. Same live-reader safety as `retain`.
    */
  def retainBytes(spark: SparkSession, dir: String, maxBytes: Long)
      : (Int, Long) =
    expire(dir) { manifested =>
      var budget = maxBytes
      manifested.sortBy { case (st, s) => (-s.maxTsUs, st.getPath.getName) }
        .dropWhile { case (st, _) =>
          val fits = st.getLen <= budget
          if (fits) budget -= st.getLen
          fits
        }
    }

  /** Retention's one mechanism: delete the manifested live containers
    * `pick` selects, then — the live set changed outside a writer
    * commit — log the post-expiry snapshot so timestampAsOf reads
    * after this point never resolve to expired containers. Returns
    * (containers deleted, records deleted).
    */
  private def expire(dir: String)(
      pick: Seq[(FileStatus, OcfFileStats)] => Seq[(FileStatus, OcfFileStats)])
      : (Int, Long) = {
    val conf = OcfStore.driverConf()
    val (fs, listing) = OcfStore.list(dir, conf)
    val stats = OcfStore.manifestStatsFrom(fs, listing)
    val victims = pick(listing
      .filter(st => OcfStore.isLiveContainer(st.getPath.getName))
      .flatMap(st => stats.get(st.getPath.getName).map(s => (st, s))))
    victims.foreach { case (st, _) => fs.delete(st.getPath, false) }
    if (victims.nonEmpty) OcfStore.writeSnapshot(dir, conf)
    (victims.size, victims.map(_._2.count).sum)
  }

  /** Maintenance ADVISOR: one metadata-only pass over the listing +
    * manifests that tells an operator (or a scheduler) which of the
    * maintenance operations this store needs right now — the nightly
    * triage a fleet of 100 TB stores runs before spending any rewrite
    * I/O. Pure driver-side listing arithmetic: no container is ever
    * opened. One row per firing rule: (rule, severity, metric, detail).
    *
    *  - `compact`      many small containers (micro-batch cadence debris)
    *  - `consolidate`  per-commit manifest pile grown past a threshold
    *  - `cluster_time` every container spans most of the store's time
    *                   range — ts-range pruning is dead until a
    *                   cluster/clusterZOrder rewrite
    *  - `vacuum`       aged dot-file crash debris is eating storage
    *  - `key_bloom`    no container carries a key Bloom — point lookups
    *                   scan everything (informational)
    */
  def advise(spark: SparkSession, dir: String,
             smallFiles: Int = 64, manifestPile: Int = 8,
             debrisHorizonMs: Long = 24L * 3600 * 1000): DataFrame = {
    import spark.implicits._
    val (fs, listing) = OcfStore.list(dir, OcfStore.driverConf())
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, String)]
    if (listing.nonEmpty) {
      val stats = OcfStore.manifestStatsFrom(fs, listing).values.toSeq
      val containers =
        listing.filter(st => OcfStore.isLiveContainer(st.getPath.getName))
      if (containers.size > smallFiles)
        out += (("compact", "warn", containers.size.toLong,
          s"${containers.size} containers (> $smallFiles): micro-batch " +
            "cadence debris; one compact() pass restores few-file scans"))
      val manifests =
        listing.filter(st => OcfStore.isManifest(st.getPath.getName))
      if (manifests.size > manifestPile)
        out += (("consolidate", "warn", manifests.size.toLong,
          s"${manifests.size} manifest files (> $manifestPile): " +
            "compactManifests() collapses the per-commit pile"))
      if (stats.size >= 2) {
        val lo = stats.map(_.minTsUs).min
        val hi = stats.map(_.maxTsUs).max
        if (hi > lo) {
          val spanFrac = stats.map(s =>
            (s.maxTsUs - s.minTsUs).toDouble / (hi - lo))
          val wide = spanFrac.count(_ > 0.5)
          if (wide * 2 > stats.size)
            out += (("cluster_time", "info", wide.toLong,
              s"$wide of ${stats.size} containers span >50% of the " +
                "store's time range: ts pruning is ineffective until a " +
                "cluster()/clusterZOrder() rewrite"))
        }
      }
      val horizon = System.currentTimeMillis() - debrisHorizonMs
      val debris = listing.count(isAgedDebris(_, horizon))
      if (debris > 0)
        out += (("vacuum", "info", debris.toLong,
          s"$debris aged dot-file orphans: vacuum() reclaims them"))
      if (stats.nonEmpty && stats.forall(_.keyBloom.isEmpty))
        out += (("key_bloom", "info", stats.size.toLong,
          "no container carries a key Bloom: key-equality scans open " +
            "every container (write with keyBloomBits to enable " +
            "point-lookup skipping)"))
      // metadata-only (the codec rides the manifest, never a container
      // open): uncompressed manifested containers above 1 MiB total
      val plain = stats.filter(_.codec.forall(_ == "null"))
      val plainBytes = containers
        .filter(st => plain.exists(_.file == st.getPath.getName))
        .map(_.getLen).sum
      if (stats.nonEmpty && plain.size * 2 > stats.size &&
          plainBytes > (1L << 20))
        out += (("codec", "info", plainBytes,
          s"${plain.size} of ${stats.size} manifested containers are " +
            "uncompressed: rewrite (compact) with codec=zstandard to " +
            "cut storage and scan I/O"))
    }
    out.toSeq.toDF("rule", "severity", "metric", "detail")
  }

  /** OPTIMIZE ZORDER twin: rewrite the store ordered by the Morton
    * interleave of (partition, time-bucket), so every container covers
    * a tight rectangle in (partition × time) space and the manifest's
    * min-max stats prune containers for BOTH partition-equality and
    * time-range predicates — where layout=partition serves only the
    * first and layout=time only the second. The multi-dimensional
    * data-skipping rewrite a long-lived 100 TB store runs when its
    * queries slice both ways.
    *
    * The interleaved sort key is computed here and the frame
    * range-partitioned + sorted BEFORE the sink (`layout=presorted`):
    * DSv2's ordering API can only sort by columns, not by a bit
    * interleave. Time buckets are `tsBucketUs`-wide (default 1 h) and
    * capped to 16 bits (wrap via mod — interleaving only needs
    * locality, not order beyond the cap); partition uses its low 16
    * bits. Same maintenance-window safety contract as `cluster`.
    * Returns (filesBefore, filesAfter).
    *
    * `curve = "hilbert"` swaps the interleave for the Hilbert index
    * ([[graft.ops.Layout.hilbertKey]], 8 bits/dimension): consecutive
    * sort positions are then always ADJACENT in (partition × time) —
    * no power-of-two seam jumps — so equal-size containers get
    * strictly tighter bounding rectangles at the cost of a deeper key
    * expression; the curve a clustering rewrite graduates to when
    * both dimensions are range-probed hard (LayoutSpec pins the
    * adjacency property, the OcfSourceSpec twin test pins the
    * both-dimension pruning).
    */
  def clusterZOrder(spark: SparkSession, dir: String,
                    targetFiles: Int = 8,
                    tsBucketUs: Long = 3600L * 1000000,
                    curve: String = "morton",
                    keepRetired: Boolean = false): (Int, Int) =
    overwrite(dir, keepRetired, _.size, Map("layout" -> "presorted")) {
      val df = spark.read.format("graft-ocf").load(dir)
      // min-max scale each dimension onto the FULL 16-bit width before
      // interleaving: raw interleave lets whichever dimension has the
      // higher magnitude own the top z-bits (a 6-bit hour bucket above a
      // 2-bit partition id sorts purely by time) — scaling makes both
      // dimensions share the high bits, which is what gives the Morton
      // curve its rectangle locality. One bounded stats job, the same
      // min/max pass every OPTIMIZE ZORDER implementation runs.
      val tb = floor(unix_micros(col("timestamp")) / tsBucketUs)
        .cast("bigint")
      val stats = df.select(
        min(col("partition").cast("bigint")).as("p0"),
        max(col("partition").cast("bigint")).as("p1"),
        min(tb).as("t0"), max(tb).as("t1")).head()
      val (pLo, pHi) = (stats.getLong(0), stats.getLong(1))
      val (tLo, tHi) = (stats.getLong(2), stats.getLong(3))
      def scaled(c: org.apache.spark.sql.Column, lo: Long, hi: Long,
                 full: Long) =
        if (hi <= lo) lit(0L)
        else floor((c - lit(lo)) * lit(full) / lit(hi - lo)).cast("bigint")
      val z = curve match {
        case "morton" =>
          val p16 = scaled(col("partition").cast("bigint"), pLo, pHi, 65535L)
          val t16 = scaled(tb, tLo, tHi, 65535L)
          (0 until 16).map { i =>
            (shiftleft(shiftright(p16, i).bitwiseAND(lit(1L)), 2 * i + 1))
              .bitwiseOR(
                shiftleft(shiftright(t16, i).bitwiseAND(lit(1L)), 2 * i))
          }.reduce(_.bitwiseOR(_))
        case "hilbert" =>
          graft.ops.Layout.hilbertKey(
            scaled(tb, tLo, tHi, 255L),
            scaled(col("partition").cast("bigint"), pLo, pHi, 255L),
            bits = 8)
        case other =>
          throw new IllegalArgumentException(
            s"curve must be morton|hilbert, got $other")
      }
      df.withColumn("_z", z)
        .repartitionByRange(math.max(1, targetFiles), col("_z"),
          col("partition"), col("offset"))
        .sortWithinPartitions(col("_z"), col("partition"), col("offset"))
        .drop("_z")
  }

  /** VACUUM: collect the dot-file debris the crash-safe protocols can
    * leave behind (`OcfStore.isDebris`) — task temps whose writer died
    * between write and commit-rename (a clean abort deletes its temp;
    * a hard executor/driver crash cannot), consolidated-manifest temps
    * whose `compactManifests` crashed before its rename, and retired
    * containers whose rewrite crashed between the hide-rename and the
    * delete. Readers filter dot-files, so debris is
    * invisible to every query — it only eats storage; on a long-lived
    * 100 TB store the temps of years of crashed tasks are real money.
    *
    * Deletion is gated on `olderThanMs` of mtime quiet time: an
    * IN-FLIGHT writer's live temp is younger than any sane horizon
    * (its task is actively appending), so the default 24 h horizon
    * never races an active write. Visible files are never touched, so
    * vacuum is safe under live readers AND writers — unlike the
    * whole-store rewrites above. Returns (files deleted, bytes freed).
    */
  def vacuum(spark: SparkSession, dir: String,
             olderThanMs: Long = 24L * 3600 * 1000): (Int, Long) = {
    val (fs, listing) = OcfStore.list(dir, OcfStore.driverConf())
    val horizon = System.currentTimeMillis() - olderThanMs
    val victims = listing.filter(isAgedDebris(_, horizon))
    // expired time-travel snapshots go with the retired containers
    // they reference (same age gate = same horizon); the NEWEST
    // snapshot always survives — it is the store's current state
    val snaps = listing
      .filter(st => st.isFile && OcfStore.isSnapshot(st.getPath.getName))
      .sortBy(_.getPath.getName)
    val snapVictims =
      if (snaps.isEmpty) Seq.empty
      else snaps.init.filter(_.getModificationTime < horizon)
    (victims ++ snapVictims).foreach(st => fs.delete(st.getPath, false))
    (victims.size + snapVictims.size,
      (victims ++ snapVictims).map(_.getLen).sum)
  }

  private def isAgedDebris(st: FileStatus, horizon: Long): Boolean =
    st.isFile && OcfStore.isDebris(st.getPath.getName) &&
      st.getModificationTime < horizon

  /** CHANGE DATA FEED between two snapshots — the Delta
    * CDF / Iceberg incremental-read role in the store's append-only
    * idiom: the records of every container live in the snapshot at
    * `toMillis` but absent from the snapshot at `fromMillis`, i.e.
    * the appends the store received in (from, to]. The container diff
    * is metadata-scale (two snapshot lists); the read is the pinned
    * `timestampAsOf` scan restricted by the `_container` metadata
    * column, so pushdown/stats work off the pinned set.
    *
    * Contract: exact when the window contains only appends (epochs,
    * batch appends). A REWRITE inside the window (compact, retention,
    * compact-by-key, erase) renames containers without their records
    * being new — the feed then over-reports the rewritten containers'
    * records. Schedule CDF reads between maintenance windows (or diff
    * against the post-rewrite snapshot), exactly like reading a
    * topic's offsets across a truncation.
    *
    * The restriction is pushed to the LISTING (`containersIn` scan
    * option), so unrelated containers are never opened and the scan's
    * reported statistics are delta-sized — a CDF read over a year-old
    * store costs the day's appends.
    */
  def changes(spark: SparkSession, dir: String, fromMillis: Long,
              toMillis: Long): DataFrame = {
    require(fromMillis <= toMillis, "changes: from must be <= to")
    val added = OcfStore.snapshotDiff(dir, OcfStore.driverConf(),
      fromMillis, toMillis)
    val pinned = spark.read.format("graft-ocf")
      .option("timestampAsOf", toMillis.toString)
    if (added.isEmpty)
      pinned.load(dir).limit(0)
    else
      pinned.option("containersIn", added.mkString(",")).load(dir)
  }
}
