package perfbench

/** The benchmark's own test: the same seed gives byte-identical
  * generated records, texts and registry sample; another seed gives
  * different ones. Prints one line and exits non-zero on failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val strata = Gen.readStrata(args(args.indexOf("--strata") + 1))
    val known = strata.flatMap(_._2.flatten).toSet
    def recs(seed: Long) = Gen.ingestRecords(seed, 5000)
      .map(r => (r.key.toSeq, r.value.toSeq, r.partition)).toSeq
    def sample(seed: Long) = Gen.registrySample(seed, strata, known)
    val checks = Seq(
      "records: same seed, same bytes" -> (recs(7) == recs(7)),
      "records: other seed, other bytes" -> (recs(7) != recs(8)),
      "doc texts: same seed, same texts" ->
        (Gen.docTexts(7, 5000).toSeq == Gen.docTexts(7, 5000).toSeq),
      "doc texts: other seed, other texts" ->
        (Gen.docTexts(7, 5000).toSeq != Gen.docTexts(8, 5000).toSeq),
      "registry: same seed, same sample" -> (sample(7) == sample(7)),
      "registry: other seed, other sample" -> (sample(7) != sample(8)))
    checks.filterNot(_._2).foreach(c => System.err.println(s"FAIL ${c._1}"))
    val ok = checks.forall(_._2)
    println(s"selftest ${if (ok) "ok" else "FAILED"}: " +
      s"${checks.count(_._2)}/${checks.size} checks passed")
    if (!ok) sys.exit(1)
  }
}
