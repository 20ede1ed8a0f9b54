package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps [[SparkEntry.session]] the only place a session is built. */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkEntry.scala is the only source that builds a session") {
    val builder = "SparkSession" + ".builder" // split: this file is scanned too
    val roots = Seq("src/main/scala", "src/test/scala").map(new File(_))
    roots.foreach(r => assert(r.isDirectory, s"$r not found"))
    val hits = roots.flatMap { r =>
      Files.walk(r.toPath).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(builder))
        .map(_.getFileName.toString)
    }
    assert(hits == Seq("SparkEntry.scala"))
  }
}
