package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen}
import graft.SparkSpec

/** Property fuzzing for the native one-pass expressions: on RANDOM
  * inputs (adversarial whitespace, unicode, surrogate pairs, empty
  * and huge tokens) each must stay bit-identical to the built-in
  * formulation it replaced. The hand-picked edge cases live in
  * OpsSpec; this catches the edges nobody hand-picks.
  */
class NativeExprFuzzSpec extends SparkSpec {

  // token alphabet skewed toward the nasty cases: ASCII \s members,
  // non-\s unicode whitespace, multibyte code points, surrogate pairs
  private val fragment: Gen[String] = Gen.frequency(
    5 -> Gen.alphaNumStr.map(_.take(8)),
    3 -> Gen.oneOf(" ", "\t", "\n", "", "\f", "\r"),
    2 -> Gen.oneOf(" ", " ", "　"), // NOT \s: token content
    2 -> Gen.oneOf("é", "ß", "漢", "字", "😀", "🎄", "x́"),
    1 -> Gen.const(""))

  private val textGen: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, fragment).map(_.mkString))

  /** Deterministic sampling from a Gen: seeded, so failures replay. */
  private def samples[T](gen: Gen[T], seedVal: Long, n: Int): Seq[T] = {
    val seed = org.scalacheck.rng.Seed(seedVal)
    Iterator.iterate((gen.apply(Gen.Parameters.default, seed), seed)) {
      case (_, s) =>
        val next = s.next
        (gen.apply(Gen.Parameters.default, next), next)
    }.map(_._1).collect { case Some(t) => t }.take(n).toSeq
  }

  private def sampleTexts(n: Int): Seq[String] = samples(textGen, 20260812L, n)

  test("fuzz: ShingleIds == split+zip+distinct on 300 random texts") {
    import spark.implicits._
    val df = sampleTexts(300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val bad = df.select(col("id"), col("text"),
        Dedup.shingles(col("text")).as("native"),
        Dedup.shinglesSql(col("text")).as("sql"))
      .filter(not(col("native") <=> col("sql")))
      .collect()
    assert(bad.isEmpty, s"divergent texts: ${bad.take(3).map(_.getString(1)).mkString("|")}")
  }

  test("fuzz: SimHash64 == explode+vote aggregate on 300 random texts") {
    import spark.implicits._
    val df = sampleTexts(300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
        graft.functions.simhash64(col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sql = Dedup.simhashSqlOf(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.keySet === sql.keySet)
    native.foreach { case (id, h) => assert(h === sql(id), s"doc $id diverges") }
  }

  test("fuzz: BpeTokenCount == regexp_count on 300 random texts") {
    import spark.implicits._
    val df = sampleTexts(300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val bad = df.select(col("text"),
        graft.functions.bpeTokenCount(col("text")).as("native"),
        regexp_count(col("text"), lit(TextOps.BpePattern)).cast("long").as("re"))
      .filter(col("native") =!= col("re"))
      .collect()
    assert(bad.isEmpty, s"divergent texts: ${bad.take(3).map(r =>
      s"'${r.getString(0)}' native=${r.getLong(1)} re=${r.getLong(2)}").mkString("|")}")
  }

  test("fuzz: WsTokenCount == size(split) on 300 random texts") {
    import spark.implicits._
    val df = sampleTexts(300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val bad = df.select(col("text"),
        graft.functions.wsTokenCount(col("text")).as("native"),
        size(split(col("text"), "\\s+")).cast("long").as("sp"))
      .filter(col("native") =!= col("sp"))
      .collect()
    assert(bad.isEmpty, s"divergent texts: ${bad.take(3).map(r =>
      s"'${r.getString(0)}' native=${r.getLong(1)} split=${r.getLong(2)}").mkString("|")}")
  }

  test("fuzz: TermTfs == filtered-split dl + per-term counts on 300 random texts") {
    import spark.implicits._
    // terms drawn from the fragment alphabet so hits actually occur:
    // ASCII, multibyte, an astral emoji, and a term that is a PREFIX
    // of another (byte-equality must not prefix-match)
    val terms = Seq("abc", "ab", "é", "漢", "😀", "xyz9")
    val df = (sampleTexts(300) ++ Seq("", "ab abc ab", " 漢 漢漢 😀", "\t\n"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val toks = filter(split(col("text"), "\\s+"), t => t =!= "")
    val expected = array(
      (size(toks).cast("long") +:
        terms.map(term =>
          size(filter(toks, t => t === term)).cast("long"))): _*)
    val bad = df.select(col("text"),
        graft.functions.termTfs(col("text"), terms).as("native"),
        expected.as("hof"))
      .filter(not(col("native") <=> col("hof")))
      .collect()
    assert(bad.isEmpty, s"divergent texts: ${bad.take(3).map(r =>
      s"'${r.getString(0)}' native=${r.getSeq[Long](1)} hof=${r.getSeq[Long](2)}")
      .mkString("|")}")
  }

  test("fuzz: WordSetHits == \\b-regex on texts salted with near-stopwords") {
    import spark.implicits._
    // fragments engineered to stress boundary semantics: exact
    // stopwords, stopwords embedded in longer \w runs (no match),
    // stopwords glued to punctuation/unicode (match — those are
    // boundaries), underscore joins (no match: _ is a word char)
    val salted: Gen[String] = Gen.frequency(
      4 -> Gen.oneOf(TextOps.StopWords),
      3 -> Gen.oneOf("the_", "_the", "thee", "aof", "is9", "Xthe"),
      3 -> Gen.oneOf("the.", "(a)", "of,", "é-the", "漢is", "to😀"),
      // Java \b is unicode-aware even though \w is ASCII: glued
      // letters (CJK, accented, astral), trailing combining marks and
      // mark-chains all shift boundaries — the exact class of input
      // that falsified the first implementation
      2 -> Gen.oneOf("漢the", "éis", "𝐀and", "thé", "x́the",
        "_́a", "́of", "😀is", "ista"),
      // the JDK's hasBaseCharacter walks UTF-16 CHARS: an astral code
      // point in the mark-chain walk is reached at its lone low
      // surrogate and yields "no base" — these atoms (astral letter +
      // mark + word, astral mark + word, word + astral mark, mark
      // chains) falsified the second implementation
      2 -> Gen.oneOf("𝐀́the", "x𝅧the",
        "the𝅧", "é́the", "́the",
        "𝐀the", "_́is"),
      3 -> fragment)
    val texts = samples(
      Gen.chooseNum(0, 30).flatMap(n =>
        Gen.listOfN(n, salted).map(_.mkString(" "))),
      20260813L, 300) ++ Seq(
      // the review's JDK-17-verified quirk cases, pinned verbatim
      // (explicit escapes: U+1D400 MATHEMATICAL A + U+0301, and
      // U+1D167 astral combining mark)
      "𝐀́the ok", "x𝅧the", "the𝅧",
      "éthe", "_́a", "́of",
      // words ending in '_' followed by a mark: the JDK base walk
      // stops at the underscore (not letterOrDigit) → boundary holds
      "a_́", "a_𝅧", "_x́", "ab́")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val pats = TextOps.LangProfiles.map(_._2) :+ TextOps.StopWords :+
      // underscore-bearing words exercise the \b base-walk quirk on
      // BOTH sides ('_' is \w but not a base character)
      Seq("a_", "_x", "the", "ab")
    pats.foreach { words =>
      val bad = df.select(col("text"),
          graft.functions.wordSetHits(col("text"), words).as("native"),
          regexp_count(col("text"),
            lit(TextOps.profilePattern(words))).cast("long").as("re"))
        .filter(col("native") =!= col("re"))
        .collect()
      assert(bad.isEmpty, s"set $words diverges on: ${bad.take(3).map(r =>
        s"'${r.getString(0)}' native=${r.getLong(1)} re=${r.getLong(2)}").mkString("|")}")
    }
  }

  test("fuzz: ContainsCjk == regex range test on 300 random texts") {
    import spark.implicits._
    // salt with in-range, boundary and near-miss code points: U+4E00
    // and U+9FFF are the range edges; U+4DFF (just below) and U+A000
    // (just above) must NOT hit; hangul/katakana are other 3-byte
    // sequences with nearby lead bytes
    val cjkish: Gen[String] = Gen.frequency(
      3 -> fragment,
      2 -> Gen.oneOf("一", "鿿", "䷿", "ꀀ", "カ", "한", "漢字"))
    val texts = samples(
      Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, cjkish).map(_.mkString)),
      20260814L, 300)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val bad = df.select(col("text"),
        graft.functions.containsCjk(col("text")).as("native"),
        (regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")) > 0).as("re"))
      .filter(col("native") =!= col("re"))
      .collect()
    assert(bad.isEmpty, s"divergent texts: ${bad.take(3).map(r =>
      s"'${r.getString(0)}' native=${r.getBoolean(1)} re=${r.getBoolean(2)}").mkString("|")}")
  }

  test("fuzz: MinHashSig == explode+min-groupBy on random long arrays") {
    import spark.implicits._
    implicit val arbLongs: Arbitrary[Seq[Long]] = Arbitrary(
      Gen.chooseNum(1, 50).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(Long.MinValue, Long.MaxValue)).map(_.distinct.toSeq)))
    val sets = samples(Arbitrary.arbitrary[Seq[Long]], 20260812L, 200)
    val df = sets.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("doc_id", "sh")
    val k = 32
    val native = df.select(col("doc_id"), graft.functions.minhashSig(col("sh"), k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val sql = df.select(col("doc_id"), explode(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(array((0 until k).map(j => min(hash(col("h"), lit(j)))): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native.keySet === sql.keySet)
    native.foreach { case (id, sig) => assert(sig === sql(id), s"doc $id diverges") }
  }

  test("fuzz: DistinctTokenCount == size(array_distinct(split)) on 300 random texts") {
    import spark.implicits._
    val df = sampleTexts(300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val bad = df.select(col("id"), col("text"),
        graft.functions.distinctTokenCount(col("text")).as("native"),
        size(array_distinct(split(col("text"), "\\s+"))).cast("long").as("sql"))
      .filter(not(col("native") <=> col("sql")))
      .collect()
    assert(bad.isEmpty, s"divergent texts: ${bad.take(3).map(r =>
      s"'${r.getString(1)}' native=${r.getLong(2)} sql=${r.getLong(3)}").mkString("|")}")
  }

  test("fuzz: SrpSig == posexplode+groupBy SRP buckets on random float vectors") {
    import spark.implicits._
    // adversarial components: zeros, denormals, huge magnitudes, and
    // sign-boundary sums all exercise the double-accumulation order
    val compGen: Gen[Float] = Gen.frequency(
      6 -> Gen.chooseNum(-1.0f, 1.0f),
      1 -> Gen.oneOf(0.0f, -0.0f, 1e-30f, -1e-30f, 1e30f, -1e30f),
      // non-finite components: NaN projections must bucket identically
      // in both formulations (Spark orders NaN above every numeric)
      1 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity))
    val vecGen: Gen[Seq[Float]] =
      Gen.chooseNum(1, 64).flatMap(n => Gen.listOfN(n, compGen).map(_.toSeq))
    val vecs = samples(vecGen, 20260812L, 200)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    for ((planes, tables) <- Seq((16, 1), (12, 8), (6, 8))) {
      val native = Similarity.srpTableBuckets(df, "vec_id", "embedding", planes, tables)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val sql = Similarity.srpTableBucketsSql(df, "vec_id", "embedding", planes, tables)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(native === sql, s"planes=$planes tables=$tables")
      // the single-table wrapper agrees with its oracle too
      if (tables == 1) {
        val n1 = Similarity.srpBuckets(df, "vec_id", "embedding", planes)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val s1 = Similarity.srpBucketsSql(df, "vec_id", "embedding", planes)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(n1 === s1)
      }
    }
  }

  test("TermTfs codegen COMPILES: strict no-fallback run stays correct") {
    // Under the default spark.sql.codegen.fallback=true a Janino
    // compile failure (e.g. a wrong addReferenceObj class name — the
    // round-8 'scala.Tuple2[][][]' bug) silently degrades to
    // interpreted eval: results stay right, the fused-scan perf path
    // never runs, and nothing fails. This test disables the fallback
    // (and ConvertToLocalRelation, so the projection isn't
    // constant-folded away before codegen) to make codegen breakage
    // fail loudly.
    import spark.implicits._
    withStrictCodegen {
      val terms = Seq("apple", "é漢", "b")
      val out = Seq("apple b apple", "", "é漢 x é漢", "noterm here")
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(col("id"), graft.functions.termTfs(col("text"), terms).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(out(0L) === Seq(3L, 2L, 0L, 1L))
      assert(out(1L) === Seq(0L, 0L, 0L, 0L))
      assert(out(2L) === Seq(3L, 0L, 2L, 0L))
      assert(out(3L) === Seq(2L, 0L, 0L, 0L))
    }
  }
}
