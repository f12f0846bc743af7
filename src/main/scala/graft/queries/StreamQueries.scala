package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{AvroOcf, CommitLog, KafkaShape, Monitoring}
import graft.functions.GraftFunctions
import graft.ops.StreamOps

/** Streaming-semantics registry rows (reference SURVEY §2 S/P/A/M rows):
  * the Kafka record shape, offsets, windows, throughput meters and the
  * lag join, each with its DuckDB oracle beside its builder.
  */
object StreamQueries {
  import Queries.events

  /** Shared oracle SQL: FLOOR-aligned window start in micros for a
    * window duration `durUs` — Spark's `window()` floors, while
    * DuckDB's integer `//` truncates toward zero (measured, r11), so
    * the naive `(epoch_us // D) * D` replay lands pre-1970 (negative
    * epoch) rows one window high. x − ((x % D) + D) % D is floor
    * alignment in pure integer arithmetic — no double rounding at
    * |epoch| ~ 3e16 µs. Found by the r12 negative-domain fixture
    * sweep (tools/make_negfix.py).
    */
  private def sqlWinStartUs(ts: String, durUs: Long): String =
    s"(epoch_us($ts) - ((epoch_us($ts) % $durUs) + $durUs) % $durUs)"
  private def kafka(s: SparkSession, d: String) =
    KafkaShape.fromEvents(events(s, d))

  val specs: Seq[QuerySpec] = Seq(
    // A1+P3-P5: flagship windowed word count (tumbling batch form)
    QuerySpec("wordcount_tumbling", (s, d) =>
      StreamOps.wordCountWindow(
        KafkaShape.decodeUtf8(kafka(s, d)), "10 minutes", None),
      s"""SELECT make_timestamp(${sqlWinStartUs("ts", 600000000L)}) AS w_start,
        |       word, count(*) AS cnt
        |FROM (SELECT ts, unnest(string_split(props, ' ')) AS word FROM events)
        |GROUP BY 1, 2""".stripMargin),
    // A1: sliding-window form (10 min window, 5 min slide)
    QuerySpec("wordcount_sliding", (s, d) =>
      StreamOps.wordCountWindow(
        KafkaShape.decodeUtf8(kafka(s, d)), "10 minutes", Some("5 minutes")),
      s"""WITH words AS (
        |  SELECT ts, unnest(string_split(props, ' ')) AS word FROM events),
        |ex AS (
        |  SELECT word,
        |         make_timestamp(${sqlWinStartUs("ts", 300000000L)}
        |                        - s.off*1000000) AS w_start
        |  FROM words, (SELECT unnest([0, 300]) AS off) s)
        |SELECT w_start, word, count(*) AS cnt FROM ex GROUP BY 1, 2""".stripMargin),
    // A1 at the reference's TRUE 2-second slide: slice-aggregated
    // running count (no Expand — see wordCountSlidingSlices scaladoc)
    QuerySpec("wordcount_sliding_2s", (s, d) =>
      StreamOps.wordCountSlidingSlices(
        KafkaShape.decodeUtf8(kafka(s, d))),
      """WITH words AS (
        |  SELECT ts, unnest(string_split(props, ' ')) AS word FROM events),
        |slices AS (
        |  SELECT word, epoch_us(ts) // 2000000 AS slice, count(*) AS c
        |  FROM words GROUP BY 1, 2)
        |SELECT word, make_timestamp(slice * 2000000) AS slice_ts,
        |       CAST(sum(c) OVER (PARTITION BY word ORDER BY slice
        |         RANGE BETWEEN 299 PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS cnt
        |FROM slices""".stripMargin),
    // S1/S2 + P1/P2: Kafka shape → UTF-8 decode round trip
    QuerySpec("kafka_roundtrip", (s, d) => KafkaShape.decodeUtf8(kafka(s, d)),
      """SELECT CAST(user_id AS VARCHAR) AS key_str, props AS value_str,
        |       'events' AS topic, user_id % 8 AS kpartition,
        |       event_id AS koffset, ts
        |FROM events""".stripMargin),
    // P6: modulo shard predicate (consumer 1 of 4)
    QuerySpec("partition_shard", (s, d) =>
      KafkaShape.decodeUtf8(kafka(s, d).filter(KafkaShape.shardFilter(
        KafkaShape.StreamConfig(consumerId = 1, consumersCount = 4)))),
      """SELECT CAST(user_id AS VARCHAR) AS key_str, props AS value_str,
        |       'events' AS topic, user_id % 8 AS kpartition,
        |       event_id AS koffset, ts
        |FROM events WHERE (user_id % 8) % 4 = 1""".stripMargin),
    // A3 + S10/S11: per-partition offset bounds
    QuerySpec("offset_bounds", (s, d) => StreamOps.offsetBounds(kafka(s, d)),
      """SELECT user_id % 8 AS kpartition, min(event_id) AS min_offset,
        |       max(event_id) AS max_offset, count(*) AS n_records
        |FROM events GROUP BY 1""".stripMargin),
    // A4: OffsetOutOfRange recovery offset
    QuerySpec("first_offset_above", (s, d) =>
      StreamOps.firstOffsetAbove(kafka(s, d), 500L),
      """SELECT user_id % 8 AS kpartition,
        |       coalesce(min(event_id) FILTER (WHERE event_id > 500), 0)
        |         AS recovered_offset
        |FROM events GROUP BY 1""".stripMargin),
    // Consumer.offsetsForTimes: earliest offset at-or-after a lookup
    // timestamp per partition (2024-01-15T00:00Z)
    QuerySpec("offsets_for_times", (s, d) =>
      StreamOps.offsetsForTimes(kafka(s, d), 1705276800000000L),
      """SELECT user_id % 8 AS kpartition,
        |       min(event_id) FILTER (WHERE epoch_us(ts) >= 1705276800000000)
        |         AS first_offset_at_or_after
        |FROM events GROUP BY 1""".stripMargin),
    // S5: one microbatch's half-open offset-range slice
    QuerySpec("offset_slice", (s, d) =>
      KafkaShape.decodeUtf8(
        StreamOps.offsetRangeSlice(kafka(s, d), 300L, 700L)),
      """SELECT CAST(user_id AS VARCHAR) AS key_str, props AS value_str,
        |       'events' AS topic, user_id % 8 AS kpartition,
        |       event_id AS koffset, ts
        |FROM events WHERE event_id >= 300 AND event_id < 700""".stripMargin),
    // A5: throughput meter
    QuerySpec("throughput", (s, d) => StreamOps.throughput(kafka(s, d)),
      s"""SELECT user_id % 8 AS kpartition,
        |       make_timestamp(${sqlWinStartUs("ts", 3600000000L)}) AS hour_start,
        |       count(*) AS cnt, count(*)/3600.0 AS events_per_sec
        |FROM events GROUP BY 1, 2""".stripMargin),
    // A5: EWMA throughput meter (the reference's Meter semantics —
    // exponentially-weighted rate, deterministic α=1/2 fold)
    QuerySpec("throughput_ewma", (s, d) => StreamOps.throughputEwma(kafka(s, d)),
      s"""WITH h AS (SELECT user_id % 8 AS kpartition,
        |  make_timestamp(${sqlWinStartUs("ts", 3600000000L)}) AS hour_start,
        |  count(*) AS cnt FROM events GROUP BY 1, 2),
        |o AS (SELECT kpartition,
        |  list(cnt/3600.0 ORDER BY hour_start) AS rates FROM h GROUP BY 1)
        |SELECT kpartition, CAST(len(rates) AS BIGINT) AS n_hours,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), rates),
        |    (acc, r) -> (acc + r)/2) AS ewma_rate
        |FROM o""".stripMargin),
    // A5 companion — gap-filled hourly series: a monitoring series
    // must show silent hours as explicit zeros (a missing row reads as
    // "no data", a 0 reads as "no traffic"). Single-consumer plan: the
    // hourly aggregate is read ONCE (a bounds+join formulation scans
    // the raw stream twice — measured, no exchange reuse); observed
    // counts fold into a per-partition hour→cnt map (bounded by hours,
    // not events), then the dense min..max range explodes against it.
    QuerySpec("dense_hours", (s, d) =>
      StreamOps.throughput(kafka(s, d))
        .select(col("kpartition"), col("hour_start"), col("cnt"))
        .groupBy(col("kpartition"))
        .agg(min(col("hour_start")).as("lo"),
          max(col("hour_start")).as("hi"),
          map_from_entries(collect_list(
            struct(col("hour_start"), col("cnt")))).as("m"))
        .select(col("kpartition"), explode(sequence(col("lo"), col("hi"),
          expr("interval 1 hour"))).as("hour_start"), col("m"))
        .select(col("kpartition"), col("hour_start"),
          coalesce(element_at(col("m"), col("hour_start")), lit(0L))
            .as("cnt")),
      s"""WITH h AS (SELECT user_id % 8 AS kpartition,
        |  make_timestamp(${sqlWinStartUs("ts", 3600000000L)})
        |    AS hour_start,
        |  count(*) AS cnt FROM events GROUP BY 1, 2),
        |b AS (SELECT kpartition, min(hour_start) AS lo,
        |  max(hour_start) AS hi FROM h GROUP BY 1),
        |dense AS (SELECT kpartition,
        |  unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
        |  FROM b)
        |SELECT dense.kpartition, dense.hour_start,
        |  CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt
        |FROM dense LEFT JOIN h
        |  ON dense.kpartition = h.kpartition
        | AND dense.hour_start = h.hour_start""".stripMargin),
    // S1 multi-topic: two-topic subscription (events split by type
    // onto per-type topics), per-topic stream stats
    QuerySpec("multi_topic", (s, d) =>
      StreamOps.topicStats(KafkaShape.fromEventsByType(events(s, d),
        Seq("events_click", "events_purchase"))),
      """SELECT 'events_' || event_type AS topic, count(*) AS n_records,
        |       count(DISTINCT user_id % 8) AS n_partitions,
        |       max(event_id) AS head_offset
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1""".stripMargin),
    // S6/S7 + S12: pack events into per-shard Avro OCF payloads, then
    // explode them back through the Generator decode — the full
    // encode→self-describing-container→decode cycle in one plan
    QuerySpec("avro_roundtrip", (s, d) =>
      AvroOcf.packEvents(events(s, d))
        .select(GraftFunctions.avroOcfExplode(col("value"),
          AvroOcf.eventStructType)
          .as(Seq("user_id", "event_type", "event_id"))),
      "SELECT user_id, event_type, event_id FROM events"),
    // S8 + S1: record-store round trip through the graft-ocf
    // DataSourceV2 — V2 commit-protocol write, then a batch read back
    // through the connector's own scan (the store the streaming source
    // replays in OcfSourceSpec)
    QuerySpec("ocf_store_roundtrip", (s, d) => {
      // fresh store dir per invocation (a fixed path keyed by the data
      // dir would race concurrent sessions: one JVM's overwrite commit
      // deleting containers another JVM is scanning), deleted on JVM
      // exit so repeated bench/test runs don't accumulate copies
      val dir = graft.tools.TempDirs.create("graft_ocf_store")
      kafka(s, d).write.format("graft-ocf").mode("overwrite").save(dir)
      KafkaShape.decodeUtf8(s.read.format("graft-ocf").load(dir))
    },
      """SELECT CAST(user_id AS VARCHAR) AS key_str, props AS value_str,
        |       'events' AS topic, user_id % 8 AS kpartition,
        |       event_id AS koffset, ts
        |FROM events""".stripMargin),
    // S1 TIME TRAVEL: two committed generations, a rewrite with
    // keepRetired, then a `timestampAsOf` read pinned between the
    // commits — the reproducible-training-run read (re-run last
    // week's job against last week's store) must see EXACTLY the
    // first generation, post-rewrite, through the snapshot log and
    // the kept .stale retirees
    QuerySpec("ocf_time_travel", (s, d) => {
      val dir = graft.tools.TempDirs.create("graft_ocf_timetravel")
      val k = kafka(s, d)
      k.filter(col("offset") % 2 === 0)
        .write.format("graft-ocf").mode("overwrite").save(dir)
      val t1 = System.currentTimeMillis()
      Thread.sleep(20)
      k.filter(col("offset") % 2 === 1)
        .write.format("graft-ocf").mode("append").save(dir)
      graft.sources.OcfMaintenance.compact(s, dir, keepRetired = true)
      KafkaShape.decodeUtf8(s.read.format("graft-ocf")
        .option("timestampAsOf", t1.toString).load(dir))
    },
      // the pinned snapshot is exactly the even-offset first generation,
      // rewrite notwithstanding
      """SELECT CAST(user_id AS VARCHAR) AS key_str, props AS value_str,
        |       'events' AS topic, user_id % 8 AS kpartition,
        |       event_id AS koffset, ts
        |FROM events WHERE event_id % 2 = 0""".stripMargin),
    // S1 + snapshots: CHANGE DATA FEED between two commits — the
    // container-diff incremental read (Delta CDF role). The second
    // write's records, and ONLY those, surface from the snapshot
    // diff; contract + rewrite caveat in OcfMaintenance.changes.
    QuerySpec("ocf_changes", (s, d) => {
      val dir = graft.tools.TempDirs.create("graft_ocf_changes")
      val k = kafka(s, d)
      k.filter(col("offset") % 2 === 0)
        .write.format("graft-ocf").mode("overwrite").save(dir)
      val t1 = System.currentTimeMillis()
      Thread.sleep(20)
      k.filter(col("offset") % 2 === 1)
        .write.format("graft-ocf").mode("append").save(dir)
      val t2 = System.currentTimeMillis()
      KafkaShape.decodeUtf8(
        graft.sources.OcfMaintenance.changes(s, dir, t1, t2))
    },
      // the CDF window holds exactly the second (odd-offset) write
      """SELECT CAST(user_id AS VARCHAR) AS key_str, props AS value_str,
        |       'events' AS topic, user_id % 8 AS kpartition,
        |       event_id AS koffset, ts
        |FROM events WHERE event_id % 2 = 1""".stripMargin),
    // S1 + manifest key Bloom: the compacted-topic point lookup —
    // a `WHERE key IN (…)` scan over a store written with
    // `keyBloomBits` opens only the containers whose Bloom filter
    // admits a probed key (clustered write => one container per Kafka
    // partition holds each key); every other container is pruned off
    // the manifest without an open. At 100 TB this is the difference
    // between a metadata lookup and a full store scan.
    QuerySpec("ocf_key_lookup", (s, d) => {
      val dir = graft.tools.TempDirs.create("graft_ocf_keylookup")
      kafka(s, d).write.format("graft-ocf")
        .option("keyBloomBits", "131072").option("targetFiles", "8")
        .mode("overwrite").save(dir)
      val back = s.read.format("graft-ocf").load(dir)
      KafkaShape.decodeUtf8(back.filter(col("key").isin(
        "7".getBytes("UTF-8"), "42".getBytes("UTF-8"))))
    },
      """SELECT CAST(user_id AS VARCHAR) AS key_str, props AS value_str,
        |       'events' AS topic, user_id % 8 AS kpartition,
        |       event_id AS koffset, ts
        |FROM events WHERE user_id IN (7, 42)""".stripMargin),
    // M1: shard-union-aggregate equivalence
    QuerySpec("union_shards", (s, d) => StreamOps.unionShards(kafka(s, d), 4),
      """SELECT 'events' AS topic, count(*) AS n_records,
        |       count(DISTINCT user_id % 8) AS n_partitions
        |FROM events""".stripMargin),
    // M2: group-by-leader batching
    QuerySpec("leader_batches", (s, d) => Monitoring.leaderBatches(kafka(s, d)),
      """WITH p AS (SELECT DISTINCT user_id % 8 AS kpartition FROM events)
        |SELECT kpartition % 3 AS leader, count(*) AS n_partitions,
        |       array_to_string(list_sort(list(kpartition)), ',') AS partitions
        |FROM p GROUP BY 1""".stripMargin),
    // S9/A2: commit-log derivation incl. HBase rowkey twin
    QuerySpec("commit_log", (s, d) =>
      CommitLog.fromKafkaBatch(kafka(s, d))
        .withColumn("rowkey", CommitLog.rowkey("graft"))
        .withColumn("partition", col("partition").cast(LongType))
        .withColumn("status", col("status").cast(LongType)),
      """SELECT 'graft' AS client_id, 'events' AS topic,
        |       user_id % 8 AS partition, max(event_id) AS "offset",
        |       count(*) AS consumed, count(*) AS processed,
        |       'localhost' AS host, CAST(0 AS BIGINT) AS status, max(ts) AS ts,
        |       '[graft]-events-' || CAST(user_id % 8 AS VARCHAR) AS rowkey
        |FROM events GROUP BY user_id % 8""".stripMargin),
    // S9↔M3 round-trip: parse (client, topic, partition) back OUT of
    // the HBase-style rowkey and join against live head offsets
    QuerySpec("rowkey_parse", (s, d) => {
      val k = kafka(s, d)
      val commits = CommitLog.fromKafkaBatch(k)
        .withColumn("rowkey", CommitLog.rowkey("graft"))
      Monitoring.rowkeyParse(commits, k)
    },
      """WITH cl AS (SELECT
        |    '[graft]-events-' || CAST(user_id % 8 AS VARCHAR) AS rowkey,
        |    max(event_id) AS committed_offset
        |  FROM events GROUP BY user_id % 8),
        |p AS (SELECT rowkey,
        |    regexp_extract(rowkey, '^\[([^\]]*)\]', 1) AS parsed_client,
        |    regexp_extract(rowkey, '^\[[^\]]*\]-(.*)-[0-9]+$', 1)
        |      AS parsed_topic,
        |    CAST(string_split(rowkey, '-')[-1] AS BIGINT) AS kpartition,
        |    committed_offset
        |  FROM cl),
        |heads AS (SELECT user_id % 8 AS kpartition,
        |    max(event_id) AS head_offset
        |  FROM events GROUP BY 1)
        |SELECT p.rowkey, p.parsed_client, p.parsed_topic, p.kpartition,
        |  h.head_offset, p.committed_offset,
        |  h.head_offset - p.committed_offset AS lag
        |FROM p JOIN heads h ON p.kpartition = h.kpartition""".stripMargin),
    // Kafka log-compaction twin: latest record per (topic, partition,
    // key) through the k=1 GroupedTopK custom operator
    QuerySpec("log_compact", (s, d) =>
      StreamOps.logCompact(KafkaShape.decodeUtf8(kafka(s, d))),
      """WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key_str,
        |    props AS value_str, 'events' AS topic,
        |    user_id % 8 AS kpartition, event_id AS koffset, ts
        |  FROM events),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY topic, kpartition, key_str
        |    ORDER BY koffset DESC) AS BIGINT) AS rnk FROM k)
        |SELECT key_str, value_str, topic, kpartition, koffset, ts, rnk
        |FROM r WHERE rnk = 1""".stripMargin),
    // cleanup.policy=compact as a STORE REWRITE: write the store,
    // compact it in place (latest per key, original offsets kept),
    // read the surviving generation back — the broker-side cleaner
    // pass, vs log_compact's query-side view of the same contract
    QuerySpec("ocf_compact_by_key", (s, d) => {
      val dir = graft.tools.TempDirs.create("graft_ocf_ckey")
      kafka(s, d).write.format("graft-ocf").mode("overwrite").save(dir)
      graft.sources.OcfMaintenance.compactByKey(s, dir)
      KafkaShape.decodeUtf8(s.read.format("graft-ocf").load(dir))
    },
      """WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key_str,
        |    props AS value_str, 'events' AS topic,
        |    user_id % 8 AS kpartition, event_id AS koffset, ts
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY topic, kpartition, key_str
        |    ORDER BY koffset DESC) AS rnk FROM k)
        |SELECT key_str, value_str, topic, kpartition, koffset, ts
        |FROM r WHERE rnk = 1""".stripMargin),
    // GDPR erasure as a STORE REWRITE: write the store, physically
    // erase the deletion cohort's records (user_id % 10 == 0, keyed by
    // the record key), read the surviving generation back — the
    // right-to-be-forgotten pass over the same overwrite commit as
    // compaction; retired containers holding the erased bytes are
    // deleted in the same pass
    QuerySpec("ocf_erase_keys", (s, d) => {
      val dir = graft.tools.TempDirs.create("graft_ocf_erase")
      kafka(s, d).write.format("graft-ocf").mode("overwrite").save(dir)
      graft.sources.OcfMaintenance.eraseKeys(s, dir,
        col("key").cast(StringType).cast(LongType) % 10L === 0L)
      KafkaShape.decodeUtf8(s.read.format("graft-ocf").load(dir))
    },
      // the roundtrip minus the erased cohort — what a compliance check
      // reads back after the erasure rewrite
      """SELECT CAST(user_id AS VARCHAR) AS key_str,
        |  props AS value_str, 'events' AS topic,
        |  user_id % 8 AS kpartition, event_id AS koffset, ts
        |FROM events WHERE user_id % 10 <> 0""".stripMargin),
    // M3: the lag join (partition 3 uncommitted → -1 path)
    QuerySpec("lag_join", (s, d) => {
      val k = kafka(s, d)
      val commits = CommitLog.fromKafkaBatch(
        k.filter(col("partition") =!= 3),
        committedFilter = col("offset") < 700)
      Monitoring.lagReport(k, commits)
    },
      """WITH heads AS (
        |  SELECT user_id % 8 AS kpartition, max(event_id) AS head_offset
        |  FROM events GROUP BY 1),
        |commits AS (
        |  SELECT user_id % 8 AS kpartition, max(event_id) AS committed_offset
        |  FROM events WHERE event_id < 700 AND user_id % 8 <> 3 GROUP BY 1)
        |SELECT coalesce(h.kpartition, c.kpartition) AS kpartition,
        |       coalesce(head_offset, -1) AS head_offset,
        |       coalesce(committed_offset, -1) AS committed_offset,
        |       CASE WHEN head_offset IS NOT NULL
        |             AND committed_offset IS NOT NULL
        |            THEN head_offset - committed_offset ELSE -1 END AS lag
        |FROM heads h FULL OUTER JOIN commits c USING (kpartition)""".stripMargin))
}
