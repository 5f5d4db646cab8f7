package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** D13 pins for the native [[graft.functions.C4LineFilter]] scan:
  * fuzz-equality against the nested-HOF line rule it replaced
  * (split("\n") line count incl. trailing empties, terminal-punct
  * suffix, non-empty whitespace-token count), plus hand-picked edge
  * lines and a strict no-fallback codegen run.
  */
class C4LineFilterSpec extends SparkSpec {

  private def check(texts: Seq[String], minWords: Int): Unit = {
    import spark.implicits._
    val out = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"),
        TextOps.lineRuleHof(col("text"), minWords).as("h"),
        graft.functions.c4LineFilter(col("text"), minWords).as("n"))
      .collect()
    out.foreach { r =>
      val h = r.getStruct(1)
      val n = r.getStruct(2)
      assert(h.getLong(0) === n.getLong(0),
        s"id ${r.getLong(0)}: n_lines ${h.getLong(0)} != ${n.getLong(0)}")
      assert(h.getSeq[String](1) === n.getSeq[String](1),
        s"id ${r.getLong(0)}: kept ${h.getSeq[String](1)} != ${n.getSeq[String](1)}")
    }
  }

  test("hand-picked edges equal the HOF rule") {
    check(Seq(
      "",                                  // one empty line, nothing kept
      "a b c.",                            // kept at minWords=3
      "a b.",                              // too few tokens
      "a b c",                             // no terminal punct
      "one two three!\nfour five six?",    // both kept, ! and ?
      "trailing space. ",                  // ends in space, dropped
      "  leading ws counts three.",        // leading ws: empty token not counted
      "tab\tsep\tline.",                   // tabs separate tokens
      "a b c.\n",                          // trailing \n -> extra empty line
      "\n\n",                              // three empty lines
      "multi  spaces  here.",              // runs collapse
      "unicode héllo wörld.",              // multi-byte chars
      "ends with bang three!",
      "a. b. c.",                          // one line, ws-separated dots
      "line one ok.\nshort.\nline three ok."), minWords = 3)
  }

  test("seeded fuzz equals the HOF rule") {
    val rng = new scala.util.Random(101)
    val words = Seq("alpha", "b", "gamma", "δelta", "e.", "!", "?",
      "word.", "x", " ", "\t")
    val texts = (0 until 200).map { _ =>
      (0 until rng.nextInt(8)).map { _ =>
        (0 until rng.nextInt(7)).map(_ => words(rng.nextInt(words.length)))
          .mkString(" ") + (if (rng.nextBoolean()) "." else "")
      }.mkString("\n")
    }
    check(texts, minWords = 3)
    check(texts, minWords = 1)
  }

  test("C4LineFilter codegen COMPILES: strict no-fallback run stays correct") {
    import spark.implicits._
    withStrictCodegen {
      val out = Seq((1L, "keep me now.\ndrop me\nand me too."))
        .toDF("id", "text")
        .select(graft.functions.c4LineFilter(col("text"), 3).as("r"))
        .collect().head.getStruct(0)
      assert(out.getLong(0) === 3L)
      assert(out.getSeq[String](1) === Seq("keep me now.", "and me too."))
    }
  }
}
