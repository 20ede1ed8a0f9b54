package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Keeps [[SparkEntry.session]] the only place a session is built,
  * [[graft.streaming.StreamFold]] the only streaming fold,
  * [[graft.catalog.IndexStore.publish]] the only index publish,
  * [[graft.dedup.Dedup]] the only MinHash-LSH implementation,
  * [[graft.scd.CatalogSql]] the only SQL statement parser, and the
  * catalog's one read helper the only place it reads parquet.
  */
class SessionFactorySpec extends AnyFunSuite {

  /** Names of the `.scala` files under `roots` that match `re`. */
  private def sourcesMatching(re: Regex, roots: String*): Seq[String] = {
    val dirs = roots.map(new File(_))
    dirs.foreach(r => assert(r.isDirectory, s"$r not found"))
    dirs.flatMap { r =>
      Files.walk(r.toPath).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
        .map(_.getFileName.toString)
    }
  }

  /** Names of the `.scala` files under `roots` that contain `token`. */
  private def sourcesWith(token: String, roots: String*): Seq[String] =
    sourcesMatching(Regex.quote(token).r, roots: _*)

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

  test("outside the catalog, IndexStore is the only source that vacuums") {
    val call = "." + "vacuum(" // split: this file is scanned too
    assert(sourcesWith(call, "src/main/scala")
      .filterNot(_ == "ParquetCatalog.scala") == Seq("IndexStore.scala"))
  }

  test("Dedup.scala holds the only MinHash signature and Jaccard verify") {
    assert(sourcesWith("array_intersect(", "src/main/scala") ==
      Seq("Dedup.scala"))
    // the native band-key kernel is defined in TextHash.scala and
    // called from Dedup.scala alone; no source composes the signature
    // from interpreted lambdas any more
    assert(sourcesWith(".lshBands(", "src/main/scala").sorted ==
      Seq("Dedup.scala", "TextHash.scala"))
    val signature = "(?s)transform\\([^;]{0,160}?PortableHash\\.minhash\\(".r
    assert(sourcesMatching(signature, "src/main/scala").isEmpty)
  }

  test("CatalogSql.scala is the only source that parses SQL statements") {
    val call = "sqlParser" + ".parsePlan" // split: this file is scanned too
    assert(sourcesWith(call, "src/main/scala") == Seq("CatalogSql.scala"))
  }

  test("the catalog reads parquet in one helper, so every read uses the " +
      "stored schema") {
    // split: this file is scanned too
    val (infer, stored) = ("read" + ".parquet(", "read" + ".schema(")
    val root = Paths.get("src/main/scala/graft/catalog")
    def count(token: String): Map[String, Int] =
      Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString ->
          Regex.quote(token).r.findAllMatchIn(Files.readString(p)).size)
        .filter(_._2 > 0).toMap
    // the fallback and the stored-schema read, both in `readParquet`
    assert(count(infer) == Map("ParquetCatalog.scala" -> 1))
    assert(count(stored) == Map("ParquetCatalog.scala" -> 1))
    val src = Files.readString(root.resolve("ParquetCatalog.scala"))
    val helper = src.substring(src.indexOf("private def readParquet("))
      .takeWhile(_ != '}')
    assert(helper.contains(infer) && helper.contains(stored))
  }
}
