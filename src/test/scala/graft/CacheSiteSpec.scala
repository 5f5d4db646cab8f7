package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every operator-side `cache()` goes through [[Caches.share]], so a
  * [[Caches.scoped]] body can release the entry it makes. A bare
  * `.cache()` in `src/main/scala` outside `graft.Caches` is a cached
  * plan that outlives `Pipeline.run` and every streaming micro-batch
  * (each left entry pins the cut lineage its plan reads), unless it is
  * one of the sites below that release their own.
  */
class CacheSiteSpec extends AnyFunSuite {

  /** file (relative to src/main/scala) -> bare `.cache()` sites it may
    * hold, with the reason it is not shared
    */
  private val allowed: Map[String, (Int, String)] = Map(
    "graft/chess/IngestCore.scala" ->
      (1, "the month's parsed games unpersist in applyGames' own finally"),
    "graft/ops/Unigram.scala" ->
      (1, "the seed piece counts unpersist in seedCounts' own finally"),
    "graft/streaming/TextStreams.scala" ->
      (1, "the decontamination gate's frozen eval set must outlive every micro-batch"))

  private val bare = """\.cache\(\)""".r

  /** `.cache()` occurrences on code lines: `//` tails and scaladoc or
    * block-comment lines are not code
    */
  private def sites(f: Path): Int =
    Files.readAllLines(f).asScala.map(_.split("//", 2)(0)).count { l =>
      val t = l.trim
      !t.startsWith("*") && !t.startsWith("/*") && bare.findFirstIn(t).nonEmpty
    }

  test("no bare .cache() in src/main outside graft.Caches and the allowlist") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val found = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList)
      .map(f => root.relativize(f).toString -> sites(f))
      .filter { case (f, n) => n > 0 && f != "graft/Caches.scala" }.toMap
    val over = found.filter { case (f, n) => n > allowed.get(f).fold(0)(_._1) }
    assert(over.isEmpty, "bare .cache() (use graft.Caches.share, or allowlist it " +
      s"with its reason): ${over.toSeq.sorted.mkString(", ")}")
    // an allowlisted site that is gone leaves a stale reason behind
    val stale = allowed.filter { case (f, (n, _)) => found.getOrElse(f, 0) != n }
    assert(stale.isEmpty, s"allowlist no longer matches the source: ${stale.keys.mkString(", ")}")
  }
}
