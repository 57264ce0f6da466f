package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Only the entry points (Session, Bench, Verify, Main, tools/) read the
  * environment. The engine layers under them pick their arms from what
  * they observe — an edge-count probe, the master and the checkpoint dir
  * — or from the session conf, so a run's behaviour follows from its
  * inputs and its session, not from variables a deployment happens to
  * export. */
class EngineEnvSpec extends AnyFunSuite {

  private val engineDirs = Seq("operators", "util", "queries", "pipeline",
    "expressions", "tensor", "sources", "streaming", "multimodal")

  /** (file name, the exact read). GRAFT_CC_MEMO=off is the cold-cost
    * mode behind INDEX.md's `sf0.1 cold` column, and nothing else
    * reproduces that column. */
  private val allowed = Seq(
    "TextQueries.scala" -> """sys.env.get("GRAFT_CC_MEMO")""")

  test("engine layers below the entry points read no environment " +
    "(one allow-listed read)") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root),
      s"run from the repository root (cwd ${sys.props("user.dir")})")
    val envRead = """\bsys\s*\.\s*(env|props)\b|\bSystem\s*\.\s*getenv\b""".r
    val files = engineDirs.map(root.resolve).flatMap { d =>
      assert(Files.isDirectory(d), s"missing engine dir $d")
      Files.walk(d).iterator().asScala.filter(_.toString.endsWith(".scala"))
    }
    val reads = for {
      p <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if envRead.findFirstIn(line).nonEmpty
    } yield (p, i + 1, line.trim)
    val offenders = reads.filterNot { case (p, _, line) =>
      allowed.exists { case (f, read) =>
        p.getFileName.toString == f && line.contains(read)
      }
    }
    assert(offenders.isEmpty, "read it in an entry point or make it a " +
      "constant or a session conf key:\n" +
      offenders.map { case (p, n, l) => s"  $p:$n: $l" }.mkString("\n"))
    // the allow-list names live reads only
    allowed.foreach { case (f, read) =>
      assert(reads.exists { case (p, _, l) =>
        p.getFileName.toString == f && l.contains(read) }, s"stale allow-list entry $f: $read")
    }
  }
}
