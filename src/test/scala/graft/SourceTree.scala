package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The Scala sources under `src/`, for the grep meta-tests
  * (ListenerHygieneSpec, SessionHygieneSpec). */
object SourceTree {
  val roots: Seq[Path] = Seq("src/test/scala", "src/main/scala").map(Paths.get(_))

  /** Every `.scala` file with its text. Fails when the roots are missing:
    * the forked test JVM must run from the repo root. */
  def files: Seq[(Path, String)] = {
    assert(roots.forall(Files.isDirectory(_)),
      s"source roots not found from ${System.getProperty("user.dir")} — " +
        "the forked test JVM must run from the repo root")
    roots.flatMap { root =>
      Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => p -> Files.readString(p))
        .toSeq
    }
  }

  /** Files whose text is `found`, except those named in `exempt`. */
  def offenders(found: String => Boolean, exempt: Set[String] = Set.empty): Seq[String] =
    files.collect {
      case (p, text) if !exempt(p.getFileName.toString) && found(text) => p.toString
    }
}
