package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Queries.staged`: one build per (tag, corpus) per JVM, always into a
  * directory wiped first, no memo entry for a failed build, and
  * `stagingSuffix` keeping paths that sanitize alike apart. */
class StagedSpec extends AnyFunSuite with BeforeAndAfterAll {
  // only the path names a corpus; staged never reads it
  private val corpora = scala.collection.mutable.Buffer.empty[String]
  private def corpus(): String = {
    corpora += s"/graft-staged-spec/${java.util.UUID.randomUUID()}"
    corpora.last
  }

  private def target(tag: String, d: String): java.io.File =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${Queries.stagingSuffix(d)}")

  override def afterAll(): Unit =
    for (d <- corpora; tag <- Seq("spec_once", "spec_once_other",
                                   "spec_wipe", "spec_throw"))
      org.apache.commons.io.FileUtils.deleteDirectory(target(tag, d))

  test("build runs once per (tag, d); another tag or corpus builds again") {
    val d1 = corpus()
    val d2 = corpus()
    var builds = 0
    val a = Queries.staged("spec_once", d1)(_ => builds += 1)
    assert(Queries.staged("spec_once", d1)(_ => builds += 1) == a)
    assert(builds == 1)
    val b = Queries.staged("spec_once_other", d1)(_ => builds += 1)
    val c = Queries.staged("spec_once", d2)(_ => builds += 1)
    assert(builds == 3)
    assert(Set(a, b, c).size == 3)
    assert(a == target("spec_once", d1))
  }

  test("a file left in the target directory is gone when build runs") {
    val d = corpus()
    val dir = target("spec_wipe", d)
    dir.mkdirs()
    val stale = new java.io.File(dir, "leftover.parquet")
    java.nio.file.Files.writeString(stale.toPath, "from an earlier JVM")
    var seen: Option[Seq[String]] = None
    Queries.staged("spec_wipe", d) { f =>
      seen = Some(Option(f.list()).toSeq.flatten)
    }
    assert(seen.contains(Seq.empty))
    assert(dir.isDirectory && !stale.exists())
  }

  test("a build that throws leaves no memo entry; the next call rebuilds") {
    val d = corpus()
    var builds = 0
    intercept[IllegalStateException] {
      Queries.staged("spec_throw", d) { _ =>
        builds += 1
        throw new IllegalStateException("build failed")
      }
    }
    Queries.staged("spec_throw", d)(_ => builds += 1)
    assert(builds == 2)
  }

  test("stagingSuffix keeps '/a/b', '/a_b' and '/a.b' apart") {
    val paths = Seq("/a/b", "/a_b", "/a.b")
    assert(paths.map(_.replaceAll("[^A-Za-z0-9]", "_")).distinct.size == 1)
    assert(paths.map(Queries.stagingSuffix).distinct.size == 3)
    assert(paths.map(target("spec_suffix", _)).distinct.size == 3)
    paths.map(Queries.stagingSuffix)
      .foreach(sfx => assert(sfx.matches("[A-Za-z0-9_]+"), sfx))
  }
}
