package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session recipe: in `src/main`, only GraftSession builds a
  * SparkSession, and only GraftSession.attach registers the native
  * functions. */
class SessionRecipeLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private def filesWith(needle: String): Seq[String] =
    sources.collect { case (p, text) if text.contains(needle) => root.relativize(p).toString }

  test("SparkSession.builder() appears only in GraftSession.scala") {
    assert(sources.nonEmpty)
    assert(filesWith("SparkSession.builder()") == Seq("graft/GraftSession.scala"))
  }

  test("GraftFunctions.register( is called only from GraftSession.attach") {
    assert(filesWith("GraftFunctions.register(") == Seq("graft/GraftSession.scala"))
    val text = Files.readString(root.resolve("graft/GraftSession.scala"))
    val attach = text.substring(text.indexOf("def attach("))
    assert(text.split("GraftFunctions\\.register\\(", -1).length == 2)
    assert(attach.contains("GraftFunctions.register("))
  }
}
