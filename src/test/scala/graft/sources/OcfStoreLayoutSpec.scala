package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The graft-ocf on-disk layout, table-driven: every name the writers
  * and maintenance produce is built through `OcfStore`, checked against
  * its on-disk spelling (stores written earlier must read unchanged),
  * and run through `OcfStore`'s predicates, which must put it in
  * exactly one layout class.
  */
class OcfStoreLayoutSpec extends AnyFunSuite {
  import OcfStore._

  private val q = "0f3c9a1e-5b7d-4c2a-9e8f-1a2b3c4d5e6f"

  // (built name, on-disk spelling, layout class)
  private val names: Seq[(String, String, String)] = Seq(
    (containerName(q, 3, None), s"part-$q-00003.ocf", "container"),
    (containerName(q, 12, Some(7L)), s"part-$q-00012-e7.ocf",
      "container"),
    (tempName(q, 3, 41L, None), s".part-$q-3-41.ocf.tmp", "debris"),
    (tempName(q, 3, 41L, Some(7L)), s".part-$q-3-41-e7.ocf.tmp",
      "debris"),
    (retiredName(containerName(q, 3, None)), s".part-$q-00003.ocf.stale",
      "debris"),
    (retiredName(manifestName(q, None)), s"._manifest-$q.ndjson.stale",
      "debris"),
    (manifestName(q, None), s"_manifest-$q.ndjson", "manifest"),
    (manifestName(q, Some(7L)), s"_manifest-$q-e7.ndjson", "manifest"),
    (consolidatedManifestName(1700000000000L),
      "_manifest-z1700000000000.ndjson", "manifest"),
    (tempOf(consolidatedManifestName(1L)), "._manifest-z1.ndjson.tmp",
      "debris"),
    (snapshotName(1700000000000L, "ab12cd34"),
      "_snapshot-00000001700000000000-ab12cd34.list", "snapshot"),
    (epochMarkerName(q, 7L), s"_epoch-$q-7", "marker"),
    ("_epoch-7", "_epoch-7", "marker")) // legacy un-scoped marker

  private def classes(n: String): Set[String] = Seq(
    "container" -> isLiveContainer(n), "manifest" -> isManifest(n),
    "snapshot" -> isSnapshot(n), "marker" -> epochMarker(n).isDefined,
    "debris" -> isDebris(n)).collect { case (c, true) => c }.toSet

  test("layout builders spell every store name as it lies on disk") {
    names.foreach { case (built, onDisk, _) => assert(built == onDisk) }
  }

  test("every store name falls in exactly one layout class") {
    names.foreach { case (n, _, want) =>
      assert(classes(n) == Set(want), s"$n classified as ${classes(n)}")
    }
  }

  test("markers and snapshots parse back to what built them") {
    assert(epochMarker(epochMarkerName(q, 7L)).contains((q, 7L)))
    assert(epochMarker("_epoch-7").contains(("", 7L)))
    assert(epochMarker("_epoch-q-x").isEmpty)
    assert(snapshotMillis(snapshotName(42L, "ab12cd34")).contains(42L))
  }

  test("an epoch's install set is scoped to its writer and epoch") {
    val mine = Seq(containerName(q, 0, Some(7L)), manifestName(q, Some(7L)))
    val notMine = Seq(containerName(q, 0, Some(17L)),
      containerName(q, 0, None), manifestName(q, None),
      containerName("0f3c9a1e-other", 0, Some(7L)),
      retiredName(containerName(q, 0, Some(7L))),
      tempName(q, 0, 1L, Some(7L)), epochMarkerName(q, 7L))
    mine.foreach(n => assert(isEpochInstall(n, q, 7L), n))
    notMine.foreach(n => assert(!isEpochInstall(n, q, 7L), n))
  }
}
