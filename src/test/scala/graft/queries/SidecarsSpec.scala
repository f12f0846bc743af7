package graft.queries

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{SparkEntry, SparkSuite}

/** Query artifacts are keyed by the dataset dir their memo is keyed
  * by: a second dataset run in the same JVM must not overwrite the
  * first one's artifact while the first one's memo still points at it,
  * and a dataset replaced at the same path must not be answered from
  * the old one's artifacts.
  */
class SidecarsSpec extends SparkSuite {

  private def rows(q: String, d: String): Seq[String] =
    SparkEntry.queries(q)(spark, d).collect().map(_.toString).sorted.toSeq

  test("a memoized HLL sketch artifact survives a run on another dataset") {
    val a = "/root/testdata/sf0.001"
    val b = "/root/testdata/sf0.01"
    // pinned as Verify pins it: the dataset tag no longer follows the
    // dataset a row runs on
    LlmQueries.tagDataset(a)
    def wau(d: String): Seq[String] = rows("rolling_wau_sketch", d)
    val first = wau(a)
    val other = wau(b)
    assert(first != other, "the two fixtures must give different answers")
    assert(wau(a) == first,
      "re-running on the first dataset read the second one's sketches")
  }

  test("a fixture replaced in place gives the new fixture's answers " +
      "in the same JVM") {
    val x = tmpDir("sidecars_replaced")
    def copyTables(from: String): Unit =
      new File(from).listFiles().foreach(f => Files.copy(f.toPath,
        Paths.get(x, f.getName), StandardCopyOption.REPLACE_EXISTING))
    val small = "/root/testdata/sf0.001"
    val big = "/root/testdata/sf0.01"
    val queries = Seq("rolling_wau_sketch", "record_linkage")
    copyTables(small)
    val before = queries.map(rows(_, x))
    copyTables(big)
    queries.zip(before).foreach { case (q, old) =>
      val want = rows(q, big)
      assert(old != want, s"$q: the two fixtures must give different answers")
      assert(rows(q, x) == want, s"$q answered from the replaced fixture")
    }
  }
}
