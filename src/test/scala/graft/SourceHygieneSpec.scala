package graft

import org.scalatest.funsuite.AnyFunSuite

/** Rejects raw control bytes in Scala sources. A NUL inside a string
  * literal breaks the Scala scanner with a misleading downstream error
  * AND flips git/ripgrep into binary mode, hiding the file from diff
  * and search — the exact failure that shipped a red snapshot once.
  * Backslash-u escapes are the accepted spelling. Also keeps the dev
  * mains on one session builder and the engine on one listener.
  */
class SourceHygieneSpec extends AnyFunSuite {
  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._

  /** The Scala files under `root` whose text contains `needle`. */
  private def mentioning(root: String, needle: String): List[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle)).toList
    finally walk.close()
  }

  test("the dev mains build their session only through tools.Local") {
    val bad = mentioning("src/main/scala/graft/tools", "SparkSession.builder")
      .filterNot(_ == Paths.get("src/main/scala/graft/tools/Local.scala"))
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("graft.obs holds the engine's only Spark listener registration") {
    val bad = mentioning("src/main", "addSparkListener")
      .filterNot(_.startsWith(Paths.get("src/main/scala/graft/obs")))
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("no raw control bytes in Scala sources") {
    val walk = Files.walk(Paths.get("src"))
    val bad =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap { p =>
          val bytes = Files.readAllBytes(p)
          val i = bytes.indexWhere(b =>
            b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r')
          if (i >= 0) Some(f"$p: 0x${bytes(i)}%02x at byte $i") else None
        }.toList
      finally walk.close()
    assert(bad.isEmpty, bad.mkString("; "))
  }
}
