package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Lint over the library packages: no environment reads at all, and no
  * session-conf mutation outside BucketedCorpus' bucketed-scan planning
  * window. */
class SwitchGuardSpec extends AnyFunSuite {

  private val Roots = Seq("core", "functions", "ops", "pipeline", "sketch", "streaming")
    .map(p => s"src/main/scala/graft/$p")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** (file, line number, code) of every code line: comments are dropped. */
  private lazy val codeLines: Seq[(File, Int, String)] = Roots.flatMap { r =>
    val dir = new File(r)
    assert(dir.isDirectory, s"$r not found under ${new File(".").getAbsolutePath}")
    scalaFiles(dir).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("*") && !line.trim.startsWith("/*") =>
          (f, i + 1, line.replaceAll("//.*$", ""))
      } finally src.close()
    }
  }

  private def offenders(bad: (File, String) => Boolean): Seq[String] =
    codeLines.collect { case (f, n, code) if bad(f, code) => s"${f.getPath}:$n: ${code.trim}" }

  test("no env read in the library packages") {
    assert(codeLines.nonEmpty)
    val found = offenders { (_, code) =>
      code.contains("sys.env") || code.contains("System.getenv")
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no session-conf mutation outside BucketedCorpus") {
    val mutation = """\bconf\.(set|unset)""".r
    val found = offenders { (f, code) =>
      mutation.findFirstIn(code).isDefined && f.getName != "BucketedCorpus.scala"
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
