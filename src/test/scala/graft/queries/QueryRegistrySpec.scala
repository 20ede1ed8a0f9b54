package graft.queries

import java.io.File
import java.nio.file.Files

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The registry's rules, the live registry, and the layering rule that
  * query groups share helpers through [[graft.queries.fixtures]] only.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private def group(groupName: String, builds: Seq[String],
      oracles: Seq[String]): QueryGroup = new QueryGroup {
    val queries: Map[String, QueryGroup.Build] = builds.map(q =>
      q -> ((_: SparkSession, _: String) => null: DataFrame)).toMap
    val oracleSql: Map[String, String] = oracles.map(_ -> "SELECT 1").toMap
    override def name: String = groupName
  }

  test("two groups declaring one name fail, naming the query") {
    val e = intercept[IllegalStateException](QueryGroup.registry(Seq(
      group("A", Seq("q1", "q2"), Seq("q1", "q2")),
      group("B", Seq("q2", "q3"), Seq("q2", "q3")))))
    assert(e.getMessage.contains("q2"))
    assert(e.getMessage.contains("A") && e.getMessage.contains("B"))
  }

  test("a group whose build and oracle key sets differ fails, naming it") {
    val noOracle = intercept[IllegalStateException](QueryGroup.registry(
      Seq(group("A", Seq("q1", "q2"), Seq("q1")))))
    assert(noOracle.getMessage.contains("q2"))
    val noBuild = intercept[IllegalStateException](QueryGroup.registry(
      Seq(group("A", Seq("q1"), Seq("q1", "q3")))))
    assert(noBuild.getMessage.contains("q3"))
  }

  test("the live registry declares 302 names, each with an oracle") {
    assert(SparkEntry.queries.size == 302)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("a group object is named only in its own file and SparkEntry") {
    // split: this file is scanned too
    val ref = ("""\b(\w+)""" + "Queries" + """\s*\.""").r
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val dir = new File(root)
      assert(dir.isDirectory, s"$dir not found")
      Files.walk(dir.toPath).iterator().asScala
        .filter(_.toString.endsWith(".scala")).flatMap { p =>
          val file = p.getFileName.toString
          ref.findAllMatchIn(Files.readString(p))
            .map(m => m.group(1) + "Queries")
            .filter(g => file != s"$g.scala" && file != "SparkEntry.scala")
            .map(g => s"$file -> $g")
        }
    }
    assert(offenders.isEmpty, offenders.distinct.mkString("\n"))
  }
}
