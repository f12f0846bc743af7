package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Scaling-fixture generator: replicates the driver's sf0.1 tables R×
  * (default 10× → an sf1.0-shaped dataset) with key remapping so the
  * result is a VALID larger instance of the same schema, not R clones.
  *
  * Used only for the scaling-slope measurement (PERF_NOTES r12): the
  * oracle gates stay on the driver's own sf0.01/sf0.1 data; this data
  * is never an input to a correctness compare.
  *
  * Design constraints, replica i ∈ [0, R):
  *  - i = 0 is the identity: the source rows appear verbatim (modulo
  *    file layout), so sf0.1 is a strict subset.
  *  - Every key column shifts by i·stride (stride = max(key)+1, keys
  *    are dense 0-based), preserving every FK relationship. Entity
  *    names regenerate from the NEW key in the source format, so name
  *    uniqueness — and the edit-distance neighbor density the linkage
  *    family depends on — scales linearly, never quadratically.
  *  - `documents.text`: ~40% of token positions mutate per replica
  *    (keyed by xxhash64(new doc_id, position) — independent across
  *    replicas), so cross-replica shingle jaccard lands at the random
  *    baseline (shared k-shingle fraction 0.36^k ≈ 0.13/0.05 for
  *    k=2/3), far below every near-dup threshold: the near-dup pair
  *    count scales ~R, not R². Intra-replica structure is exact for
  *    i=0 and statistically identical for i>0. n_chars recomputed.
  *  - `embeddings.embedding`: replica i applies a fixed SIGNED
  *    PERMUTATION of dimensions (seeded per replica). Orthogonal ⇒
  *    intra-replica geometry is preserved EXACTLY (all cosines, norms,
  *    cluster shape), while cross-replica cosines drop to ~N(0, 1/64)
  *    — far below the 0.4 embedding-pair threshold, so pair ops scale
  *    linearly. i = 0 uses the identity.
  *  - Timestamps, categorical attributes, values, props are kept:
  *    "same time window, R× the traffic" — the realistic way a corpus
  *    grows — so calendar/value-domain-bounded censuses stay bounded
  *    (the property the 100 TB plan shapes rely on) while per-group
  *    row counts grow R×.
  *  - Big tables are written range-partitioned on their primary key
  *    into multiple files: a multi-row-group layout so scans
  *    parallelize (PERF_NOTES r10 item 1: single-file fixtures
  *    serialize every pre-shuffle kernel).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def tbl(name: String): DataFrame =
      Tables.table(spark, src, name)
    def out(df: DataFrame, name: String, files: Int, rangeKey: String)
        : Unit = {
      val laid =
        if (files <= 1) df.coalesce(1)
        else df.repartitionByRange(files, col(rangeKey))
      laid.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[scaleup] wrote $name x$files")
    }
    // replica index column; stride = max(key)+1 (keys are dense 0-based)
    def rep(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(sequence(lit(0L), lit(reps - 1L))))
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    // dimension tables with a fixed row count: copy verbatim
    out(tbl("region"), "region", 1, "r_regionkey")
    out(tbl("nation"), "nation", 1, "n_nationkey")

    val cust = tbl("customer"); val cN = stride(cust, "c_custkey")
    out(rep(cust)
      .withColumn("c_custkey", col("c_custkey") + col("rep") * cN)
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      .drop("rep"), "customer", 4, "c_custkey")

    val supp = tbl("supplier"); val sN = stride(supp, "s_suppkey")
    out(rep(supp)
      .withColumn("s_suppkey", col("s_suppkey") + col("rep") * sN)
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
      .drop("rep"), "supplier", 1, "s_suppkey")

    val part = tbl("part"); val pN = stride(part, "p_partkey")
    out(rep(part)
      .withColumn("p_partkey", col("p_partkey") + col("rep") * pN)
      .drop("rep"), "part", 4, "p_partkey")

    val ord = tbl("orders"); val oN = stride(ord, "o_orderkey")
    out(rep(ord)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * oN)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * cN)
      .drop("rep"), "orders", 8, "o_orderkey")

    out(rep(tbl("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * oN)
      .withColumn("l_partkey", col("l_partkey") + col("rep") * pN)
      .withColumn("l_suppkey", col("l_suppkey") + col("rep") * sN)
      .drop("rep"), "lineitem", 16, "l_orderkey")

    val ev = tbl("events")
    val eN = stride(ev, "event_id"); val uN = stride(ev, "user_id")
    out(rep(ev)
      .withColumn("event_id", col("event_id") + col("rep") * eN)
      .withColumn("user_id", col("user_id") + col("rep") * uN)
      .drop("rep"), "events", 8, "event_id")

    // documents: remap id; mutate ~40% of token positions for i>0
    // (replacement token = original + "q" + replica letter: the added
    // vocabulary is bounded at base-vocab × R)
    val docs = tbl("documents"); val dN = stride(docs, "doc_id")
    val withId = rep(docs)
      .withColumn("doc_id", col("doc_id") + col("rep") * dN)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val mutated = withId
      .withColumn("toks", split(col("text"), " "))
      .withColumn("toks",
        zip_with(col("toks"),
          sequence(lit(0), greatest(size(col("toks")) - 1, lit(0))),
          (t, p) => when(col("rep") > 0 &&
              pmod(xxhash64(col("doc_id"), p), lit(10)) < 4,
            concat(t, lit("q"),
              substring(lit(letters), (col("rep") + 1).cast("int"), lit(1))))
            .otherwise(t)))
      .withColumn("text", array_join(col("toks"), " "))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    out(mutated, "documents", 8, "doc_id")

    // embeddings: signed dimension permutation per replica (orthogonal)
    val emb = tbl("embeddings"); val vN = stride(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val rng = new scala.util.Random(42)
    val perms: Seq[Seq[Int]] = (0 until reps).map { i =>
      if (i == 0) 0 until dim else rng.shuffle((0 until dim).toList)
    }
    val signs: Seq[Seq[Float]] = (0 until reps).map { i =>
      if (i == 0) Seq.fill(dim)(1f)
      else Seq.fill(dim)(if (rng.nextBoolean()) 1f else -1f)
    }
    val permsL = typedlit(perms); val signsL = typedlit(signs)
    out(rep(emb)
      .withColumn("vec_id", col("vec_id") + col("rep") * vN)
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)), d =>
          element_at(col("embedding"),
            element_at(element_at(permsL, (col("rep") + 1).cast("int")),
              d + 1) + 1) *
          element_at(element_at(signsL, (col("rep") + 1).cast("int")),
            d + 1)).cast("array<float>"))
      .drop("rep"), "embeddings", 8, "vec_id")

    System.err.println(s"[scaleup] done: $dst (x$reps of $src)")
    spark.stop()
  }
}
