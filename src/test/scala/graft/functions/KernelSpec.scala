package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSuite
import graft.ops.TextOps

/** The codegen kernels must agree with their readable Catalyst
  * specifications (TextOps.charGrams / wordShingles / the higher-order
  * forms they replaced) — property-checked over one DataFrame of
  * ScalaCheck-generated texts per suite run, plus direct edge-case
  * units (one Spark job per property, not one per sample).
  */
class KernelSpec extends SparkSuite {

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val text: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ws <- Gen.listOfN(n, word)
  } yield ws.mkString(" ")

  private lazy val texts: Seq[String] = {
    val edge = Seq("", " ", "  ", "a", "ab cd", "a  b", " lead", "trail ",
      "aaaaa aaaaa aaaaa", "the quick brown fox jumps over the lazy dog",
      // multi-byte UTF-8 + repeated grams (byte-level kernels must
      // match the String-world split/concat semantics here)
      "héllo wörld héllo wörld héllo wörld",
      "日本 語 の 文 日本 語 の 文", "a b a b a b a b")
    val gen = Gen.listOfN(300, text).sample.getOrElse(Nil)
    edge ++ gen
  }

  private lazy val df = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map(_.swap).toDF("id", "t")
  }

  test("WordPieces: greedy longest-match, OOV single-char fallback, " +
    "word boundaries respected") {
    val s = spark
    import s.implicits._
    def pieces(t: String): Seq[String] =
      Seq((1, t)).toDF("id", "t")
        .select(GraftFunctions.wordPieces(col("t"),
          TextOps.wordPieceVocab).as("p"))
        .collect().head.getSeq[String](0)
    assert(pieces("spark") == Seq("spark"))
    assert(pieces("value") == Seq("val", "ue"),
      "longest prefix wins over char fallback")
    assert(pieces("scan") == Seq("sc", "an"))
    assert(pieces("batch") == Seq("b", "a", "t", "ch"),
      "OOV chars fall back one at a time")
    assert(pieces("the") == Seq("th", "e"))
    assert(pieces("spark table") == Seq("spark", "table"),
      "pieces never straddle a word boundary")
    assert(pieces("sparka") == Seq("spark", "a"))
    // a vocab entry longer than the word remainder cannot match
    assert(pieces("spar") == Seq("s", "p", "a", "r"))
    assert(pieces("") == Seq())
  }

  test("BpeEncode: lowest-rank pair merges first at its leftmost " +
    "occurrence, words never straddle") {
    val s = spark
    import s.implicits._
    val merges = Seq(("t", "h"), ("th", "e"), ("a", "n"), ("s", "t"))
    def toks(t: String): Seq[String] =
      Seq((1, t)).toDF("id", "t")
        .select(GraftFunctions.bpeEncode(col("t"), merges).as("p"))
        .collect().head.getSeq[String](0)
    assert(toks("the") == Seq("the"))
    assert(toks("than") == Seq("th", "an"))
    assert(toks("these") == Seq("the", "s", "e"),
      "rank-0 th before rank-1 the; no merge for s,e")
    assert(toks("stand") == Seq("st", "an", "d"),
      "rank-2 an merges before rank-3 st")
    assert(toks("the stand") == Seq("the", "st", "an", "d"))
    assert(toks("") == Seq())
    // self-overlapping pair: leftmost-one-per-step reaches the
    // all-occurrences fixpoint
    assert(Seq((1, "aaaa aaa")).toDF("id", "t")
      .select(GraftFunctions.bpeEncode(col("t"),
        Seq(("a", "a"))).as("p"))
      .collect().head.getSeq[String](0) == Seq("aa", "aa", "aa", "a"))
    // a later merge over earlier merge outputs
    assert(Seq((1, "aaaa")).toDF("id", "t")
      .select(GraftFunctions.bpeEncode(col("t"),
        Seq(("a", "a"), ("aa", "aa"))).as("p"))
      .collect().head.getSeq[String](0) == Seq("aaaa"))
  }

  test("BpeEncode agrees with an independent reference fold on " +
    "generated texts under learned merges") {
    val merges = TextOps.learnBpeMerges(df, "t", topWords = 64,
      nMerges = 24)
    assert(merges.nonEmpty && merges == merges.distinct)
    // reference model: repeatedly scan merges in rank order, merge the
    // leftmost occurrence — written functionally, not the kernel's
    // in-place array loop
    def refWord(w: String): List[String] = {
      var toks = w.map(String.valueOf(_)).toList
      var changed = true
      while (changed) {
        changed = false
        val it = merges.iterator
        while (!changed && it.hasNext) {
          val (a, b) = it.next()
          val i = toks.zip(toks.drop(1)).indexWhere(p => p._1 == a && p._2 == b)
          if (i >= 0) {
            toks = toks.take(i) ::: (a + b) :: toks.drop(i + 2)
            changed = true
          }
        }
      }
      toks
    }
    def ref(t: String): Seq[String] =
      t.split(" ").filter(_.nonEmpty).toSeq.flatMap(refWord)
    val got = df.select(col("t"),
        GraftFunctions.bpeEncode(col("t"), merges).as("p"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    got.foreach { case (t, p) =>
      assert(p == ref(t), s"mismatch on '$t'")
      assert(p.mkString == t.replace(" ", ""),
        s"tokens must respell the text: '$t'")
    }
  }

  test("learnBpeMerges is deterministic and greedily count-ordered") {
    val s = spark
    import s.implicits._
    // corpus: 'aab' x3, 'abb' x2 — pair counts round 1:
    // (a,a)=3, (a,b)=5, (b,b)=2 -> merge (a,b);
    // round 2: 'a ab' x3, 'ab b' x2 -> (a,ab)=3, (ab,b)=2 -> (a,ab)
    val corpus = (Seq.fill(3)("aab") ++ Seq.fill(2)("abb"))
      .zipWithIndex.map(_.swap).toDF("id", "t")
    val m = TextOps.learnBpeMerges(corpus, "t", topWords = 10, nMerges = 2)
    assert(m == Seq(("a", "b"), ("a", "ab")))
    val again = TextOps.learnBpeMerges(corpus, "t", topWords = 10,
      nMerges = 2)
    assert(m == again)
  }

  test("HashedCharGrams matches charGrams cardinality on every input") {
    val bad = df.select(
        size(GraftFunctions.hashedCharGrams(col("t"), 5)).as("k"),
        size(TextOps.charGrams(col("t"), 5)).as("s"), col("t"))
      .filter(col("k") =!= col("s")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString(";")}")
  }

  test("HashedWordShingles matches wordShingles cardinality on every input") {
    val bad = df.select(
        size(GraftFunctions.hashedWordShingles(col("t"), 3)).as("k"),
        size(TextOps.wordShingles(col("t"), 3)).as("s"), col("t"))
      .filter(col("k") =!= col("s")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString(";")}")
  }

  test("ShingleSurvivors(AcceptAll) equals wordShingles exactly " +
    "(values AND first-occurrence order) on every input") {
    val bad = df.select(col("t"),
        GraftFunctions.shingleSurvivors(col("t"), 3, AcceptAllProbe)
          .as("k"),
        TextOps.wordShingles(col("t"), 3).as("s"))
      .filter(not(col("k") <=> col("s"))).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString(";")}")
  }

  test("ShingleSurvivors(probe) equals the explode-filter pipeline: " +
    "exactly the distinct grams whose xxhash64 the probe accepts") {
    // exact-hash-set probe over the grams of one reference text —
    // survivors must be the filter of wordShingles by set membership
    val s = spark
    import s.implicits._
    val keys = df.select(explode(
        TextOps.wordShingles(col("t"), 3)).as("g"))
      .filter(length(col("g")) % 2 === 0) // arbitrary half of the grams
      .select(xxhash64(col("g"))).distinct().as[Long].collect()
    val probe = new LongHashProbe(keys)
    val bad = df.select(col("t"),
        GraftFunctions.shingleSurvivors(col("t"), 3, probe).as("k"),
        filter(TextOps.wordShingles(col("t"), 3),
          g => length(g) % 2 === 0).as("s"))
      .filter(not(col("k") <=> col("s"))).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString(";")}")
  }

  test("ShingleSurvivors on NULL text yields an empty array (doc kept " +
    "by the size(...)===0 decontamination filter), mirroring wordShingles") {
    val s = spark
    import s.implicits._
    val ndf = Seq((1, null: String), (2, "a b c d")).toDF("id", "t")
    val probe = new LongHashProbe(Array(42L)) // matches nothing real
    val out = ndf.select(col("id"),
        GraftFunctions.shingleSurvivors(col("t"), 3, probe).as("k"))
      .filter(size(col("k")) === 0)
      .select(col("id")).as[Int].collect().toSet
    // null-text doc AND clean doc both survive; neither row's kernel
    // output is NULL
    assert(out == Set(1, 2))
    val nulls = ndf.select(GraftFunctions
        .shingleSurvivors(col("t"), 3, AcceptAllProbe).isNull.as("n"))
      .filter(col("n")).count()
    assert(nulls == 0L, "kernel must never return NULL")
  }

  test("ShingleSurvivors bloom probe never loses a true member") {
    val s = spark
    import s.implicits._
    val hashes = df.select(explode(
        TextOps.wordShingles(col("t"), 3)).as("g"))
      .select(xxhash64(col("g")).as("h")).distinct()
    val n = math.max(1L, hashes.count())
    val bloom = GraftBloom.build(hashes, "h",
      GraftBloom.sizeBits(n, 16), 6)
    // every gram is a member, so the survivors must be ALL grams
    val bad = df.select(col("t"),
        GraftFunctions.shingleSurvivors(col("t"), 3, bloom).as("k"),
        TextOps.wordShingles(col("t"), 3).as("s"))
      .filter(not(col("k") <=> col("s"))).collect()
    assert(bad.isEmpty, s"false negatives: ${bad.take(5).mkString(";")}")
  }

  test("SortedLongIntersectCount equals string-set intersection size") {
    val s = spark
    import s.implicits._
    val pairs = texts.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val pdf = pairs.toDF("a", "b")
    val bad = pdf.select(
        GraftFunctions.sortedIntersectCount(
          GraftFunctions.hashedCharGrams(col("a"), 5),
          GraftFunctions.hashedCharGrams(col("b"), 5)).as("k"),
        size(array_intersect(
          TextOps.charGrams(col("a"), 5),
          TextOps.charGrams(col("b"), 5))).cast("long").as("s"))
      .filter(col("k") =!= col("s")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString(";")}")
  }

  test("PolyHash31 equals the fold specification") {
    def ref(t: String): Long =
      t.foldLeft(0L)((acc, c) => (acc * 31 + c) % TextOps.FpMod)
    val got = df.select(col("t"), TextOps.polyHash(col("t")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    got.foreach { case (t, h) => assert(h == ref(t), s"text '$t'") }
  }

  test("QuantizedDot equals sum of elementwise products") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (Array(1L, 2L, 3L), Array(4L, -5L, 6L), 1L * 4 - 2 * 5 + 3 * 6),
      (Array.empty[Long], Array.empty[Long], 0L),
      (Array(1000L, -1000L), Array(1000L, 1000L), 0L))
    val vdf = vecs.map(v => (v._1, v._2)).toDF("a", "b")
    val got = vdf.select(GraftFunctions.qdot(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == vecs.map(_._3))
  }

  test("MinHashBands: identical sets collide on all bands, band count fixed") {
    val s = spark
    import s.implicits._
    val vdf = Seq(
      ("x", "the quick brown fox jumps over the lazy dog again and again"),
      ("y", "the quick brown fox jumps over the lazy dog again and again"),
      ("z", "a completely different document about spark streaming jobs"))
      .toDF("id", "t")
    val sig = vdf.select(col("id"), GraftFunctions.minhashBands(
      GraftFunctions.hashedWordShingles(col("t"), 3), 128, 32).as("bands"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sig("x").length == 32)
    assert(sig("x") == sig("y"), "identical docs must share every band")
    assert(sig("x") != sig("z"), "different docs should differ somewhere")
  }

  test("SimHash64: edge cases and fused-kernel determinism") {
    val s = spark
    import s.implicits._
    val vdf = Seq(("e", ""), ("one", "hello"), ("sp", "  "),
      ("dup1", "same text twice here"), ("dup2", "same text twice here"))
      .toDF("id", "t")
    val sig = vdf.select(col("id"),
        GraftFunctions.simhash64(col("t")).as("sh"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    sig.values.foreach { v =>
      assert(v.length == 2)
      assert(v.forall(h => h >= 0 && h <= 0xffffffffL),
        "halves are unsigned 32-bit")
    }
    assert(sig("dup1") == sig("dup2"))
    // empty string = one empty token, still a defined signature
    assert(sig("e").length == 2)
  }

  test("HyperplaneBands: deterministic, fixed width, identical vectors collide") {
    val s = spark
    import s.implicits._
    val vdf = Seq(
      ("x", Array.tabulate(64)(i => (i % 7).toLong - 3)),
      ("y", Array.tabulate(64)(i => (i % 7).toLong - 3)),
      ("z", Array.tabulate(64)(i => ((i * 13) % 11).toLong - 5)))
      .toDF("id", "v")
    val sig = vdf.select(col("id"),
        GraftFunctions.hyperplaneBands(col("v"), 96, 4).as("bands"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sig("x").length == 96)
    assert(sig("x") == sig("y"))
    assert(sig.values.flatten.forall(h => h >= 0 && h < 16),
      "4-bit band hashes must lie in [0, 16)")
  }

  test("RepetitionStats kernel equals the expression-tree specification") {
    // the readable spec the kernel replaced: split -> array_distinct /
    // bigram transform -> per-distinct-bigram count max
    val w = split(col("t"), " ")
    val bg = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
    val bad = df.select(col("t"),
        GraftFunctions.repetitionStats(col("t")).as("k"),
        size(w).cast("long").as("s_tok"),
        size(array_distinct(w)).cast("long").as("s_dis"),
        size(bg).cast("long").as("s_big"),
        when(size(bg) === 0, lit(0L)).otherwise(
          array_max(transform(array_distinct(bg),
            b => size(filter(bg, x => x === b)).cast("long"))))
          .as("s_top"))
      .filter(element_at(col("k"), 1) =!= col("s_tok") ||
        element_at(col("k"), 2) =!= col("s_dis") ||
        element_at(col("k"), 3) =!= col("s_big") ||
        element_at(col("k"), 4) =!= col("s_top"))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("extension-registered SQL functions resolve through spark.sql") {
    // the GraftExtensions injection path (spark.sql.extensions), not
    // the Column API: the same kernels must be reachable from SQL text
    df.createOrReplaceTempView("kernel_texts")
    val rows = spark.sql(
      """SELECT graft_poly_hash(t, 1000000007) AS h,
        |       graft_repetition_stats(t) AS r,
        |       graft_simhash64(t) AS sh,
        |       graft_hashed_word_shingles(t, 3) AS ws
        |FROM kernel_texts""".stripMargin).collect()
    assert(rows.length == texts.length)
    assert(rows.forall(r => r.getSeq[Long](1).length == 4))
    assert(rows.forall(r => r.getSeq[Long](2).length == 2))
  }

  test("media header SQL functions resolve and parse through spark.sql") {
    val png = graft.functions.ImageHeaders.PngSig ++
      Array[Byte](0, 0, 0, 13) ++ "IHDR".getBytes ++
      Array[Byte](0, 0, 1, 0, 0, 0, 0, 64) ++ // 256 x 64
      Array.fill[Byte](9)(0)
    val s = spark
    import s.implicits._
    Seq(Tuple1(png)).toDF("p").createOrReplaceTempView("media_blob")
    val r = spark.sql(
      """SELECT graft_image_header(p) AS i,
        |       graft_audio_header(p) AS a,
        |       graft_video_header(p) AS v
        |FROM media_blob""".stripMargin).collect().head
    assert(r.getStruct(0).getLong(0) == 256L &&
      r.getStruct(0).getLong(1) == 64L &&
      r.getStruct(0).getString(2) == "png")
    assert(r.getStruct(1).getString(4) == "bin") // PNG is not WAV
    assert(r.getStruct(2).getString(3) == "bin") // ... nor MP4
  }

  test("Sq8Encode / ScaledDot match their zip_with specifications") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.fill(8)(rng.nextInt(4001).toLong - 2000L))
    }
    val maxs = Array.tabulate(8)(i =>
      math.max(1L, vecs.map(v => math.abs(v._2(i))).max))
    val pairs = vecs.grouped(2).collect { case Seq(a, b) =>
      (a._1, a._2, b._2) }.toSeq.toDF("id", "qa", "qb")
    // encode spec: round-half-even-free double chain, clamped
    def encSpec(c: org.apache.spark.sql.Column) =
      zip_with(c, lit(maxs), (x, m) =>
        greatest(lit(-127L), least(lit(127L),
          round(x.cast("double") * 127.0 / m.cast("double")).cast("long"))))
    val badEnc = pairs.select(
        GraftFunctions.sq8Encode(col("qa"), maxs).as("k"),
        encSpec(col("qa")).as("s"))
      .filter(col("k") =!= col("s")).collect()
    assert(badEnc.isEmpty, s"encode mismatches: ${badEnc.take(3).mkString}")
    // scaled dot spec over the ENCODED vectors
    val enc = pairs.select(
      GraftFunctions.sq8Encode(col("qa"), maxs).as("ca"),
      GraftFunctions.sq8Encode(col("qb"), maxs).as("cb"))
    def dotSpec(a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(zip_with(a, b, (x, y) => x * y), lit(maxs.map(m => m * m)),
          (xy, m2) => xy * m2),
        lit(0L), (acc, v) => acc + v)
    val badDot = enc.select(
        GraftFunctions.scaledDot(col("ca"), col("cb"), maxs).as("k"),
        dotSpec(col("ca"), col("cb")).as("s"))
      .filter(col("k") =!= col("s")).collect()
    assert(badDot.isEmpty, s"dot mismatches: ${badDot.take(3).mkString}")
  }

  test("TokenQualityStats matches the unfused length/filter/regex spec") {
    val stop = TextOps.qualityStopwords
    def spec(t: org.apache.spark.sql.Column) = {
      val w = split(t, " ")
      array(
        length(t).cast("long"),
        size(w).cast("long"),
        size(array_distinct(w)).cast("long"),
        size(filter(w, x => stop.map(s => x === lit(s)).reduce(_ || _)))
          .cast("long"),
        length(regexp_replace(t, "[^a-z]", "")).cast("long"),
        size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("long"))
    }
    val bad = df.select(col("t"),
        graft.functions.GraftFunctions.qualityStats(col("t"), stop).as("k"),
        spec(col("t")).as("s"))
      .filter(col("k") =!= col("s")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString(";")}")
  }

  test("HashedLinearScore matches the unfused element_at/aggregate spec") {
    val ws = TextOps.classifierWeights
    def spec(text: org.apache.spark.sql.Column) =
      aggregate(
        transform(split(text, " "), t => element_at(
          lit(ws),
          (TextOps.polyHash(t) % ws.length).cast("int") + 1)),
        lit(0L), (acc, w) => acc + w)
    val bad = df.select(col("t"),
        graft.functions.GraftFunctions.linearScore(col("t"), ws).as("k"),
        spec(col("t")).as("s"))
      .filter(col("k") =!= col("s")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString(";")}")
  }

  test("LangIdVote matches the unfused greatest/when specification") {
    // the readable Catalyst form the fused kernel replaced — four
    // interpreted higher-order filters + greatest + a when chain
    def spec(text: org.apache.spark.sql.Column) = {
      val w = split(lower(text), " ")
      val counts = TextOps.langMarkers.map { case (lang, ms) =>
        lang -> size(filter(w, t => ms.map(m => t === lit(m)).reduce(_ || _)))
      }
      val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
      counts.foldRight(lit("unknown"): org.apache.spark.sql.Column) {
        case ((lang, c), acc) => when(c > 0 && c === best, lit(lang))
          .otherwise(acc)
      }
    }
    val s = spark
    import s.implicits._
    val cases = Seq(
      "The quick fox and the dog",       // en
      "el la los de y",                  // es
      "der die das und ist",             // de
      "le les des et est",               // fr
      "xyz qqq",                         // unknown
      "",                                // empty text
      "the el",                          // tie -> en precedence
      "de de the",                       // es marker twice beats en once
      "LE LES the",                      // case folding feeds the vote
      "a  a",                            // empty tokens between spaces
      " the ")                           // leading/trailing empties
    val bad = (cases ++ texts).toDF("t")
      .select(col("t"), TextOps.langId(col("t")).as("k"),
        spec(col("t")).as("s"))
      .filter(col("k") =!= col("s")).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString(";")}")
    // and the SQL registration path resolves
    Seq("el la the").toDF("t").createOrReplaceTempView("langid_probe")
    assert(spark.sql(
      "SELECT graft_langid(lower(t)) AS l FROM langid_probe")
      .collect().head.getString(0) == "es")
  }

  test("LuhnValid: known PANs, check-digit sensitivity, length and " +
    "charset envelope") {
    val s = spark
    import s.implicits._
    def luhn(xs: String*): Seq[Boolean] =
      xs.map(x => (1, x)).toDF("id", "t")
        .select(GraftFunctions.luhnValid(col("t")).as("v"))
        .collect().map(_.getBoolean(0)).toSeq

    // canonical test PANs (Visa/Mastercard/Amex published test numbers)
    assert(luhn("4111111111111111", "5500005555555559", "378282246310005")
      == Seq(true, true, true))
    // a single check-digit flip always invalidates
    assert(luhn("4111111111111112", "4111111111111110")
      == Seq(false, false))
    // length envelope [13, 19] and digits-only
    assert(luhn("411111111111", "41111111111111111111",
      "4111-1111-1111-1111", "", "4111111111111a11")
      == Seq(false, false, false, false, false))
    // reference fold: brute-force Luhn over random digit strings
    def model(ds: String): Boolean = {
      if (ds.length < 13 || ds.length > 19) false
      else ds.reverse.zipWithIndex.map { case (c, i) =>
        val d = c - '0'
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum % 10 == 0
    }
    val rnd = new scala.util.Random(3)
    val samples = Seq.fill(200)(
      (1 to (13 + rnd.nextInt(7))).map(_ => rnd.nextInt(10)).mkString)
    assert(luhn(samples: _*) == samples.map(model),
      "expression disagrees with the reference fold")
    // SQL registration path
    Seq("4111111111111111").toDF("t").createOrReplaceTempView("luhn_probe")
    assert(spark.sql("SELECT graft_luhn_valid(t) AS v FROM luhn_probe")
      .collect().head.getBoolean(0))
  }

  test("CharSimpson matches the explode-chars reference fold") {
    val s = spark
    import s.implicits._
    def model(t: String): Long =
      t.codePoints().toArray.groupBy(identity).values
        .map(g => g.length.toLong * (g.length - 1)).sum
    // hand cases: "aab" -> a:2 b:1 -> 2; uniform "abc" -> 0; "" -> 0;
    // all-same "aaaa" -> 4*3 = 12; non-ASCII code points counted once
    val edge = Seq("aab", "abc", "", "aaaa", "héllo héllo", "aéé")
    val all = edge ++ texts
    val got = all.zipWithIndex.map(_.swap).toDF("id", "t")
      .select(col("id"), GraftFunctions.charSimpsonNum(col("t")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    all.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) == model(t), s"mismatch on '$t'")
    }
    // SQL registration path
    Seq("aab").toDF("t").createOrReplaceTempView("simpson_probe")
    assert(spark.sql("SELECT graft_char_simpson(t) AS v FROM simpson_probe")
      .collect().head.getLong(0) == 2L)
  }

  test("DeletionHashes: every hash equals the polynomial of the " +
      "materialized variant string; counts and collisions by content") {
    val s = spark
    import s.implicits._
    // brute-force model: hash a variant string directly
    def poly(v: String): Long = {
      val cps = v.codePoints().toArray
      var h = 0L; var p = 1L
      cps.foreach { c => h += c.toLong * p; p *= 0x100000001b3L }
      graft.functions.SigKernels.splitmix64(
        h ^ (cps.length.toLong * 0x9e3779b97f4a7c15L))
    }
    def variants(v: String, k: Int): Seq[String] = {
      def del1(x: String) =
        x.indices.map(i => x.substring(0, i) + x.substring(i + 1))
      val d1 = del1(v)
      v +: (if (k >= 2) d1 ++ d1.flatMap(del1).distinct else d1)
    }
    val inputs = Seq("", "a", "ab", "abc", "aabb", "Customer#0001",
      "héllo", "same same")
    for (k <- Seq(1, 2); in <- inputs) {
      val got = Seq(in).toDF("t")
        .select(explode(GraftFunctions.deletionHashes(col("t"), k))
          .as("h")).collect().map(_.getLong(0)).toSeq
      // d2 kernel output enumerates (i < j) pairs, possibly repeating
      // content-equal variants — compare as SETS of content hashes
      assert(got.toSet == variants(in, k).map(poly).toSet,
        s"k=$k in='$in'")
      // size = 1 + n + C(n,2) over CODE POINTS (no dedupe)
      val n = in.codePointCount(0, in.length)
      val want = 1 + n + (if (k >= 2 && n >= 2) n * (n - 1) / 2 else 0)
      assert(got.size == want, s"k=$k in='$in' size")
    }
    // the FastSS contract through hashes: near names share a hash,
    // far names don't
    def hs(v: String) = Seq(v).toDF("t")
      .select(explode(GraftFunctions.deletionHashes(col("t"), 2)).as("h"))
      .collect().map(_.getLong(0)).toSet
    assert(hs("acme corp").intersect(hs("acme c0rp")).nonEmpty)
    assert(hs("acme corp").intersect(hs("zzz industries")).isEmpty)
  }

  test("DetLn: within 2e-11 of math.log across magnitudes, exact at " +
      "powers of two up to the ln2 literal, null below 1, " +
      "codegen equals the impl") {
    val s = spark
    import s.implicits._
    // accuracy sweep: dense small ints + random magnitudes to 2^60
    val rnd = new scala.util.Random(11)
    val ns = (1L to 2000L) ++
      Seq.fill(2000)(math.abs(rnd.nextLong()) % (1L << 60) + 1L)
    ns.foreach { n =>
      val got = DetLnImpl.eval(n)
      val want = math.log(n.toDouble)
      assert(math.abs(got - want) <= 2e-11 * math.max(1.0, want),
        s"n=$n got=$got want=$want")
    }
    // powers of two: m = 1, series term 0 → exactly L * Ln2
    (0 to 62).foreach { l =>
      assert(DetLnImpl.eval(1L << l) == l.toDouble * DetLnImpl.Ln2)
    }
    // the Column path (codegen) matches the impl and nulls out n < 1
    val df = Seq(0L, 1L, 2L, 9170L, 1L << 40).toDF("n")
      .select(col("n"), GraftFunctions.detLn(col("n")).as("l"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(df(0L).isEmpty)
    assert(df(1L).contains(0.0))
    assert(df(2L).contains(DetLnImpl.eval(2L)))
    assert(df(9170L).contains(DetLnImpl.eval(9170L)))
    assert(df(1L << 40).contains(DetLnImpl.eval(1L << 40)))
  }

  test("QBucket, QLower, HilbertIndex and CmsEstimate reject a wrong " +
    "input type at analysis (DATATYPE_MISMATCH), not at run time") {
    val one = spark.range(1)
    Seq(
      "qBucket(int literal)" -> GraftFunctions.qBucket(lit(5)),
      "qBucket(int column)" -> GraftFunctions.qBucket(col("id").cast("int")),
      "qBucket(string)" -> GraftFunctions.qBucket(lit("x")),
      "qLower(string)" -> GraftFunctions.qLower(lit("x")),
      "hilbertIndex(double, double)" ->
        GraftFunctions.hilbertIndex(lit(1.5), lit(2.5), 4),
      "cmsEstimate(string, string)" ->
        GraftFunctions.cmsEstimate(lit("x"), lit("y"), 4, 2)
    ).foreach { case (what, c) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        one.select(c).collect())
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"),
        s"$what: ${e.getMessage}")
    }
  }

  test("every row kernel: interpreted eval equals generated code, " +
    "NULL inputs included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types._

    def le(v: Int, n: Int) = Array.tabulate(n)(i => (v >> (8 * i)).toByte)
    val png = ImageHeaders.PngSig ++ le(13, 4).reverse ++ "IHDR".getBytes ++
      le(256, 4).reverse ++ le(64, 4).reverse
    val gif = "GIF89a".getBytes ++ le(10, 2) ++ le(20, 2)
    val wav = "RIFF".getBytes ++ le(36 + 8, 4) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le(16, 4) ++ le(1, 2) ++ le(2, 2) ++
      le(8000, 4) ++ le(32000, 4) ++ le(4, 2) ++ le(16, 2) ++
      "data".getBytes ++ le(8, 4) ++ Array.fill[Byte](8)(7)
    val str = StringType -> Seq("the quick brown fox the quick", "",
      "a  b", "héllo wörld héllo wörld", "4539148803436467",
      "der die das the", null)
    val bin = BinaryType -> Seq(png, gif, wav, Array[Byte](1, 2, 3),
      Array.emptyByteArray, null)
    val long = LongType -> Seq(0L, 1L, 5L, 1000L, 1L << 40, -3L, null)
    val longs = ArrayType(LongType) ->
      Seq(Seq(1L, 2L, 3L), Seq(3L, -1L, 7L), Seq.empty[Long], null)
    val codes = ArrayType(IntegerType) ->
      Seq(Seq(0, 1), Seq(1, 0), Seq.empty[Int], null)
    val cmsTable = ArrayType(LongType) ->
      Seq((0L until 32L), Seq.fill(32)(3L), null)
    val bloomBits = new Array[Long](16)
    GraftBloomFilter.addInPlace(bloomBits, 3, 5L)
    val cb = Array(Array(Array(0L, 0L), Array(1L, 1L)),
      Array(Array(0L), Array(5L)))

    type In = (DataType, Seq[Any])
    def un(in: In)(f: Expression => Expression) =
      (Seq(in), (es: Seq[Expression]) => f(es(0)))
    def bi(l: In, r: In)(f: (Expression, Expression) => Expression) =
      (Seq(l, r), (es: Seq[Expression]) => f(es(0), es(1)))
    val cases = Seq(
      un(long)(BloomMightContain(_, GraftBloomFilter(bloomBits, 3))),
      bi(cmsTable, str)(CmsEstimate(_, _, 4, 2)),
      bi(long, long)(HilbertIndex(_, _, 8)),
      un(longs)(NearestCentroids(_,
        Array(Array(1L, 0L, 0L), Array(0L, 1L, 0L)), 1)),
      un(long)(QBucket(_)),
      un(long)(QLower(_)),
      un(bin)(ImageHeaderDecode(_)),
      un(bin)(AudioHeaderDecode(_)),
      un(bin)(VideoHeaderDecode(_)),
      un(longs)(PqEncode(_, cb)),
      un(codes)(PqReconNorm(_, cb)),
      bi(codes, longs)(PqAdcDot(_, _, cb)),
      un(longs)(RademacherProject(_, 2, 3)),
      un(longs)(MinHashBands(_, 4, 2)),
      un(longs)(HyperplaneBands(_, 2, 3)),
      un(str)(DeletionHashes(_, 2)),
      un(longs)(Sq8Encode(_, Array(10L, 10L, 10L))),
      bi(longs, longs)(ScaledDot(_, _, Array(10L, 10L, 10L))),
      un(str)(HashedCharGrams(_, 3)),
      un(str)(WordPieces(_, TextOps.wordPieceVocab)),
      un(str)(BpeEncode(_, Seq(("t", "h"), ("th", "e")))),
      un(str)(HashedWordShingles(_, 2)),
      un(str)(LuhnValid(_)),
      un(str)(PolyHash31(_, 1000000007L)),
      un(str)(CharSimpson(_)),
      un(str)(SimHash64(_)),
      un(bin)(ByteHistogram(_, 8)),
      bi(longs, longs)(SortedLongIntersectCount(_, _)),
      bi(longs, longs)(QuantizedDot(_, _)),
      un(str)(RepetitionStats(_)),
      un(str)(LangIdVote(_, TextOps.langMarkers)),
      un(str)(HashedLinearScore(_, Array(1L, -2L, 3L))),
      un(str)(TokenQualityStats(_, Seq("the", "a"))),
      un(str)(GopherCoverage(_)),
      un(str)(PolyShingleHashes(_, 2, 1000L)),
      un(str)(PositionalShingles(_, 2)),
      un(long)(DetLn(_)),
      un(str)(ShingleSurvivors(_, 2, AcceptAllProbe)))
    assert(cases.size == 38)

    // the generated-code side must really be generated: no fallback
    withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
      cases.foreach { case (ins, build) =>
        val tuples = ins.map(_._2).foldLeft(Seq(Seq.empty[Any])) {
          (acc, vs) => for (a <- acc; v <- vs) yield a :+ v
        }
        val interpreted = tuples.map { vs =>
          val k = build(ins.zip(vs).map { case ((t, _), v) =>
            Literal.create(v, t) })
          assert(k.checkInputDataTypes().isSuccess, k)
          CatalystTypeConverters.convertToScala(
            k.eval(InternalRow.empty), k.dataType)
        }
        val schema = StructType(StructField("i", IntegerType) +:
          ins.indices.map(j => StructField(s"c$j", ins(j)._1)))
        val rows = tuples.zipWithIndex.map { case (vs, i) => Row(i +: vs: _*) }
        // an RDD source: a local relation would be folded interpreted
        val k = build(ins.indices.map(j => Bridge.expression(col(s"c$j"))))
        val generated = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2), schema)
          .select(col("i"), Bridge.column(k))
          .collect().sortBy(_.getInt(0)).map(_.get(1)).toSeq
        interpreted.zip(generated).zip(tuples).foreach {
          case ((a, b), vs) =>
            assert(a == b, s"${k.prettyName}(${vs.mkString(", ")}): " +
              s"interpreted $a, generated $b")
        }
      }
    }
  }
}
