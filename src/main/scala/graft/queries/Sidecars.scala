package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Tables

/** Where registry sidecars live. A sidecar is a parquet directory a
  * row writes beside its result, and who reads it picks its lifetime:
  *
  *  - An ORACLE INPUT (driver-trained cells, codes, codebooks, merge
  *    tables, signatures) is read by the DuckDB oracle after the JVM
  *    has exited. It lives at the fixed path `<root>/<tag>/<name>` and
  *    is overwritten in place, so reruns add nothing on disk. The root
  *    is the one property `graft.sidecar.dir` (default
  *    `${java.io.tmpdir}/graft-sidecar`); the tag is the dataset dir
  *    the JVM's queries run against, so two concurrent runs at
  *    different scale factors never clobber each other's inputs.
  *  - A QUERY ARTIFACT (a persisted index, a re-laid-out table, a
  *    daily sketch) is read back only by the query that wrote it. It
  *    lives in a per-JVM temp dir, one per (artifact, dataset dir),
  *    deleted when the JVM exits.
  *
  * It also owns every memo of a value derived from a dataset: see
  * [[derived]] for the one staleness rule.
  */
private[queries] object Sidecars {

  /** Tag of the dataset dir this JVM's queries run against, recorded
    * when a closure resolves its input tables. The handshake is sound
    * because Verify dumps `oracleSql` AFTER running every query in the
    * same JVM, so the tag the closures recorded is the one the SQL
    * strings interpolate.
    */
  @volatile private var tag: String = "default"
  def tagDataset(d: String): Unit =
    tag = d.replaceAll("[^A-Za-z0-9._-]", "_")

  /** The oracle input `name` for the tagged dataset. A def, not a val:
    * the oracle string must read the tag when it is dumped.
    */
  def oracleInput(name: String): String = {
    val root = sys.props.getOrElse("graft.sidecar.dir",
      s"${sys.props("java.io.tmpdir")}/graft-sidecar")
    s"$root/$tag/$name"
  }

  /** Writes an oracle input as one parquet file, unless
    * `-Dgraft.ivf.cells.skipWrite=true`: Bench and Probe set it so a
    * timed row is the query alone and a bench run never overwrites the
    * inputs a pending DuckDB compare reads.
    */
  def writeOracleInput(dir: String)(df: => DataFrame): Unit =
    if (!java.lang.Boolean.getBoolean("graft.ivf.cells.skipWrite"))
      df.coalesce(1).write.mode("overwrite").parquet(dir)

  private val artifacts = new ConcurrentHashMap[(String, String), String]()

  /** The query artifact `name` for dataset dir `d`: one temp dir per
    * (name, d) per JVM, deleted at exit, so a second dataset in the
    * same JVM can never overwrite the first one's artifact.
    */
  def artifact(name: String, d: String): String =
    artifacts.computeIfAbsent((name, d),
      _ => graft.tools.TempDirs.create(s"graft_${name}_"))

  /** Per (name, d): the last value built and its stamp; the key's lock. */
  private final class Built { var last: Option[(Tables.Stamp, Any)] = None }
  private val built = new ConcurrentHashMap[(String, String), Built]()

  /** The value `name` derived from the tables `tables` of dataset dir
    * `d` (an artifact dir, trained centroids, a filter). It is kept
    * with those tables' `Tables.stamp` and rebuilt, into the same
    * [[artifact]] dir when it writes one, once that stamp changes: a
    * fixture replaced at the same path is never answered from the old
    * one's artifacts. `build` runs under its own key's lock only, so a
    * build may derive other values.
    */
  def derived[A](name: String, s: SparkSession, d: String,
                 tables: String*)(build: => A): A = {
    val cell = built.computeIfAbsent((name, d), _ => new Built)
    cell.synchronized {
      val now = Tables.stamp(s, d, tables: _*)
      cell.last match {
        case Some((`now`, v)) => v.asInstanceOf[A]
        case _ => val v = build; cell.last = Some((now, v)); v
      }
    }
  }
}
