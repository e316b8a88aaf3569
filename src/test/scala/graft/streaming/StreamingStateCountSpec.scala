package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the number of hand-written streaming state machines to the
  * code: a twin whose state is an aggregation buffer runs as a Spark
  * streaming aggregation, so the `flatMapGroupsWithState` folds and
  * their `NoTimeout` uses may only go down, and no expression in
  * `src/main` falls back to interpreted eval (`CodegenFallback`).
  * Comment lines are not counted.
  */
class StreamingStateCountSpec extends AnyFunSuite {

  private val mainRoot: Path = Paths.get("src/main/scala")
  assert(Files.isDirectory(mainRoot), "run from the project root")

  /** Occurrences of `token` in the code lines of every .scala file
    * under `dir`, per file. */
  private def count(dir: Path, token: String): Map[Path, Int] = {
    val pattern = java.util.regex.Pattern.quote(token).r
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        p -> Files.readAllLines(p).asScala.iterator
          .map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
          .map(pattern.findAllMatchIn(_).size)
          .sum
      }
      .filter(_._2 > 0).toMap
  }

  private val streaming = mainRoot.resolve("graft/streaming")

  test("flatMapGroupsWithState: at most 22 calls under graft.streaming") {
    val calls = count(streaming, "flatMapGroupsWithState(")
    assert(calls.values.sum <= 22, calls.toSeq.sortBy(_._1.toString).mkString("\n"))
  }

  test("NoTimeout: at most 21 uses under graft.streaming") {
    val uses = count(streaming, "NoTimeout()")
    assert(uses.values.sum <= 21, uses.toSeq.sortBy(_._1.toString).mkString("\n"))
  }

  test("CodegenFallback: none in src/main") {
    assert(count(mainRoot, "CodegenFallback").isEmpty)
  }
}
