package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Docs that tell a reader to run something must point at something that
  * exists: every `tools/<name>.py` and `runMain graft.<Main>` named in the
  * main sources, README.md and the skill notes resolves to a file in
  * tools/ and an object under src/main/scala. */
class RepoPointersSpec extends AnyFunSuite {

  private def list(dir: String, recursive: Boolean): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = if (recursive) Files.walk(d) else Files.list(d)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("every tools/<name>.py and runMain graft.<Main> named in the docs exists") {
    val docs = (list("src/main", recursive = true).filter(_.toString.endsWith(".scala")) ++
      Seq(Paths.get("README.md")) ++
      list(".claude/skills", recursive = true).filter(_.getFileName.toString == "SKILL.md"))
      .map(p => p -> read(p))
    def named(re: scala.util.matching.Regex): Seq[(Path, String)] =
      docs.flatMap { case (p, text) => re.findAllMatchIn(text).map(m => p -> m.group(1)) }.distinct

    val scripts = named("""tools/([A-Za-z0-9_]+)\.py""".r)
    val mains = named("""runMain[\s*]+(graft(?:\.\w+)+)""".r)
    assert(scripts.exists(_._2 == "crosscheck") && mains.exists(_._2 == "graft.Verify"),
      "the oracle's script and main are no longer named anywhere")

    def mainExists(fqn: String): Boolean = {
      val parts = fqn.split('.')
      val obj = s"""(?m)^\\s*object\\s+${parts.last}\\b""".r
      list(("src/main/scala" +: parts.init).mkString("/"), recursive = false)
        .exists(f => f.toString.endsWith(".scala") && obj.findFirstIn(read(f)).isDefined)
    }
    val dangling =
      scripts.collect { case (p, n) if !Files.isRegularFile(Paths.get(s"tools/$n.py")) => s"$p -> tools/$n.py" } ++
        mains.collect { case (p, m) if !mainExists(m) => s"$p -> runMain $m" }
    assert(dangling.isEmpty, dangling.mkString("\n"))
  }
}
