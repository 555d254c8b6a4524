package graft

import java.nio.file.{Files, Path, Paths}

/** Committed test fixtures under `data/fixtures`, resolved from the
  * repository root (the nearest directory at or above the working
  * directory that holds `build.sbt`), so the suites run from any
  * checkout. */
object Fixtures {
  lazy val repoRoot: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.isRegularFile(d.resolve("build.sbt")))
      .getOrElse(throw new IllegalStateException(
        s"no build.sbt at or above ${Paths.get("").toAbsolutePath}"))

  def path(name: String): String = repoRoot.resolve("data/fixtures").resolve(name).toString

  def read(name: String): String = new String(Files.readAllBytes(Paths.get(path(name))), "UTF-8")
}
