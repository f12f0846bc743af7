package graft.queries

import graft.{SparkEntry, SparkSuite}

/** Query artifacts are keyed by the dataset dir their memo is keyed
  * by: a second dataset run in the same JVM must not overwrite the
  * first one's artifact while the first one's memo still points at it.
  */
class SidecarsSpec extends SparkSuite {

  test("a memoized HLL sketch artifact survives a run on another dataset") {
    val a = "/root/testdata/sf0.001"
    val b = "/root/testdata/sf0.01"
    // pinned as Verify pins it: the dataset tag no longer follows the
    // dataset a row runs on
    LlmQueries.tagDataset(a)
    def wau(d: String): Seq[String] =
      SparkEntry.queries("rolling_wau_sketch")(spark, d).collect()
        .map(_.toString).sorted.toSeq
    val first = wau(a)
    val other = wau(b)
    assert(first != other, "the two fixtures must give different answers")
    assert(wau(a) == first,
      "re-running on the first dataset read the second one's sketches")
  }
}
