package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps [[SparkEntry.session]] the only place a session is built, and
  * [[graft.streaming.StreamFold]] the only streaming fold.
  */
class SessionFactorySpec extends AnyFunSuite {

  /** Names of the `.scala` files under `roots` that contain `token`. */
  private def sourcesWith(token: String, roots: String*): Seq[String] = {
    val dirs = roots.map(new File(_))
    dirs.foreach(r => assert(r.isDirectory, s"$r not found"))
    dirs.flatMap { r =>
      Files.walk(r.toPath).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(token))
        .map(_.getFileName.toString)
    }
  }

  test("SparkEntry.scala is the only source that builds a session") {
    val builder = "SparkSession" + ".builder" // split: this file is scanned too
    assert(sourcesWith(builder, "src/main/scala", "src/test/scala") ==
      Seq("SparkEntry.scala"))
  }

  test("StreamFold and StreamingScd are the only foreachBatch callers") {
    val call = "." + "foreachBatch" // split: this file is scanned too
    assert(sourcesWith(call, "src/main/scala").sorted ==
      Seq("StreamFold.scala", "StreamingScd.scala"))
  }
}
