package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Join strategy is chosen once, in [[GraftSession]]: AQE broadcasts,
  * hashes or sort-merges from observed sizes. This guard fails on a
  * hand-placed choice in `src/main/scala` — a `shuffle_hash` hint, the
  * deleted `maybeBroadcast` guard, or a `fitsBroadcast(` call — beyond
  * the allow-list below, whose every entry names why AQE cannot make
  * that choice. A new entry needs a same-session sf0.1 A/B number. */
class JoinStrategySpec extends AnyFunSuite {

  /** (file name, pattern) → allowed matches, with the reason. */
  private val allowed: Map[(String, String), (Int, String)] = Map(
    ("LinkGraph.scala", "shuffle_hash") -> (6,
      "pageRank/personalizedPageRank degree and per-round joins; sf0.1 " +
        "A/B: q174 0.72 s hinted vs 0.90 s unhinted, build_jobs 8 vs 9"),
    ("Dedup.scala", "shuffle_hash") -> (4,
      "propagateBounded and starContract loop joins; sf0.1 A/B: " +
        "build_jobs q56 25 hinted vs 32 unhinted, q89 25 vs 31"),
    ("IvfIndex.scala", "fitsBroadcast") -> (1,
      "search: the broadcast side is the exploded probes frame, nProbe× " +
        "the query rows, so the cap bounds a payload AQE does not size"),
    ("PqIndex.scala", "fitsBroadcast") -> (3,
      "search is a crossJoin (no shuffle for AQE to observe); " +
        "searchInCells' probes are nProbe× the query rows; searchRerank " +
        "shares search's decision"))

  private val patterns = Seq(
    "shuffle_hash" -> """(?i)hint\(\s*"shuffle_hash"\s*\)""".r,
    "maybeBroadcast" -> """\bmaybeBroadcast\b""".r,
    // calls only: the definition is not a call
    "fitsBroadcast" -> """(?<!def )\bfitsBroadcast\(""".r)

  test("main picks no join strategy by hand outside the allow-list") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val files = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .map(_.toFile).filter(f => f.isFile && f.getName.endsWith(".scala"))
      .toList
    val found = for {
      f <- files
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      (name, re) <- patterns
      ms = re.findAllMatchIn(src).toList
      if ms.nonEmpty
    } yield (f.getName, name) -> ms.map(m =>
      s"${f.getPath}:${src.substring(0, m.start).count(_ == '\n') + 1}")
    val over = found.filter { case (k, at) =>
      at.length > allowed.get(k).fold(0)(_._1) }
    assert(over.isEmpty, "hand-placed join strategy outside the " +
      "allow-list (let AQE choose, or add an entry with its sf0.1 A/B " +
      "number):\n" + over.flatMap(_._2).mkString("\n"))
    // a stale entry hides nothing but misstates the code: keep it exact
    val counts = found.map { case (k, at) => k -> at.length }.toMap
    allowed.foreach { case (k, (n, why)) =>
      assert(counts.getOrElse(k, 0) == n, s"$k: allow-list says $n ($why)")
    }
  }
}
