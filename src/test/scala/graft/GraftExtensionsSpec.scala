package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("cosine_sim is callable from SQL when extensions are configured") {
    // Build a separate session (sharing the JVM's SparkContext) from
    // the suite session's builder, so the extension is its only
    // difference; never stop() it — that would kill the context under
    // the suite-wide shared session.
    val shared = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = Session.builder("4")
        .withExtensions(new GraftExtensions().apply(_))
        .getOrCreate()
      val r = spark.sql(
        """SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)),
          |                  array(cast(1.0 as float), cast(0.0 as float))) AS c""".stripMargin)
        .head().getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
      // minhash_sig from SQL must agree with min(hash(id, slot))
      val sig = spark.sql(
        "SELECT minhash_sig(array(7L, 9L), 4) AS s").head().getSeq[Int](0)
      val expect = spark.sql(
        """SELECT array(min(hash(h, 0)), min(hash(h, 1)),
          |             min(hash(h, 2)), min(hash(h, 3)))
          |FROM (SELECT explode(array(7L, 9L)) AS h)""".stripMargin)
        .head().getSeq[Int](0)
      assert(sig === expect)
      // k may be any constant int expression, not just a bare literal
      // (the builder runs before constant folding and evals k itself)
      val folded = spark.sql(
        "SELECT minhash_sig(array(7L, 9L), CAST(2 + 2 AS INT)) AS s")
        .head().getSeq[Int](0)
      assert(folded === expect)
      // the unary text scans, each against its built-in formulation
      val t = "the quick brown fox is 42!"
      val row = spark.sql(
        s"""SELECT ws_token_count('$t') AS ws,
           |       bpe_token_count('$t') AS bpe,
           |       simhash64('$t') AS sh,
           |       size(shingle_ids('$t')) AS ns,
           |       size(split('$t', '\\\\s+')) AS ws_ref,
           |       regexp_count('$t', '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\\\s]') AS bpe_ref
           |""".stripMargin).head()
      assert(row.getLong(0) === row.getInt(4).toLong)
      assert(row.getLong(1) === row.getInt(5).toLong)
      assert(row.getInt(3) === 4) // 6 tokens -> 4 distinct 3-grams
      assert(row.getLong(2) !== 0L)
      assert(spark.sql("SELECT contains_cjk('a 漢 b')").head().getBoolean(0))
      assert(!spark.sql("SELECT contains_cjk('plain ascii')").head().getBoolean(0))
      // srp_sig: tables elements, and table 0 of a 1-table call equals
      // the per-plane sign definition on a hand-checkable vector
      val srp = spark.sql(
        """SELECT srp_sig(array(cast(0.5 as float), cast(-1.5 as float)), 6, 8) AS s"""
      ).head().getSeq[Long](0)
      assert(srp.length === 8)
      val srp1 = spark.sql(
        """SELECT srp_sig(array(cast(0.5 as float), cast(-1.5 as float)), 6, 1) AS s"""
      ).head().getSeq[Long](0)
      assert(srp1 === Seq(srp.head))
      // bloom_might_contain: an empty filter rejects everything, a
      // saturated one accepts everything
      val bl = spark.sql(
        """SELECT bloom_might_contain(array(0L, 0L), 7L, 4) AS none,
          |       bloom_might_contain(array(-1L, -1L), 7L, 4) AS full""".stripMargin)
        .head()
      assert(!bl.getBoolean(0) && bl.getBoolean(1))
      // c4_line_filter: struct(n_lines, kept) of the C4 line rule
      val c4 = spark.sql(
        """SELECT c4_line_filter('keep me now.\ndrop\nme three too.', 3) AS r"""
      ).head().getStruct(0)
      assert(c4.getLong(0) === 3L)
      assert(c4.getSeq[String](1) === Seq("keep me now.", "me three too."))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
