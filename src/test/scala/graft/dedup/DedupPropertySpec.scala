package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Randomized properties of the MinHash-LSH near-dup path. The planted
  * corpora behind q20 are oracle-checked; this drives RANDOM corpora
  * against a plain-Scala shingle-set reference:
  *  - soundness: the exact-verify stage means every emitted pair
  *    really has shingle-set Jaccard >= threshold (LSH banding only
  *    ever loses candidates, never invents pairs);
  *  - exact-duplicate recall is 1: identical text -> identical
  *    signature -> identical bands -> candidate -> Jaccard 1;
  *  - pairs are canonical (a < b, no self pairs, no duplicates);
  *  - across two corpora, every match pairs an `a`-side id with a
  *    `b`-side id, its Jaccard is the reference's double bit for bit,
  *    and every exact cross copy is found.
  */
class DedupPropertySpec extends SparkSpec {

  private val vocab = Vector("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "join", "sort", "spill", "batch",
    "window", "spark", "order", "data", "column", "filter", "small",
    "merge", "plan", "disk", "shard", "token", "byte", "node")

  private def shingleSet(text: String): Set[String] = {
    val t = text.trim.split("\\s+").filter(_.nonEmpty)
    (0 to t.length - 3).map(i => t.slice(i, i + 3).mkString(" ")).toSet
  }

  private def corpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    val base = (0L until 120L).map { i =>
      i -> Seq.fill(3 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    // planted exact dups and near-dups (one token appended)
    val exact = base.filter(_._1 % 9 == 0)
      .map { case (i, t) => (i + 1000L) -> t }
    val near = base.filter(_._1 % 7 == 0)
      .map { case (i, t) => (i + 2000L) -> (t + " " + vocab(rnd.nextInt(vocab.size))) }
    base ++ exact ++ near
  }

  for (seed <- Seq(11, 42, 77)) test(s"random corpus properties (seed $seed)") {
    val spark0 = spark
    import spark0.implicits._
    val rows = corpus(seed)
    val docs = rows.toDF("doc_id", "text")
    val got = Dedup.minhashNearDuplicates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sets = rows.toMap.view.mapValues(shingleSet).toMap

    // canonical pairs
    val keys = got.map(p => (p._1, p._2))
    assert(keys.distinct.length == keys.length, "duplicate pairs")
    got.foreach { case (a, b, _) => assert(a < b, s"non-canonical ($a,$b)") }

    // soundness: emitted Jaccard matches the reference sets exactly
    got.foreach { case (a, b, j) =>
      val (sa, sb) = (sets(a), sets(b))
      val inter = (sa intersect sb).size
      val ref = inter.toDouble / (sa.size + sb.size - inter)
      assert(ref >= 0.5, s"pair ($a,$b) below threshold: $ref")
      assert(math.abs(ref - j) < 1e-12, s"jaccard mismatch ($a,$b): $j vs $ref")
    }

    // exact-duplicate recall: every planted identical pair appears
    val found = keys.toSet
    rows.filter(r => r._1 % 9 == 0 && r._1 < 1000 && sets(r._1).nonEmpty)
      .foreach { case (i, _) =>
        assert(found.contains((i, i + 1000L)),
          s"exact dup ($i,${i + 1000}) missed")
      }
  }

  /** `rows` copied into a disjoint id space (+5000): every third doc
    * verbatim, every third with one token appended, the rest replaced
    * by fresh random text.
    */
  private def perturbed(rows: Seq[(Long, String)], seed: Int)
      : Seq[(Long, String)] = {
    val rnd = new Random(seed)
    def word = vocab(rnd.nextInt(vocab.size))
    rows.map { case (i, t) =>
      (i + 5000L) -> (i % 3 match {
        case 0 => t
        case 1 => t + " " + word
        case _ => Seq.fill(3 + rnd.nextInt(25))(word).mkString(" ")
      })
    }
  }

  for (seed <- Seq(11, 42, 77))
    test(s"cross-corpus matches vs the shingle-set reference (seed $seed)") {
      val spark0 = spark
      import spark0.implicits._
      val rowsA = corpus(seed)
      val rowsB = perturbed(rowsA, seed + 1)
      val got = Dedup.crossCorpusMatches(rowsA.toDF("doc_id", "text"),
          "doc_id", "text", rowsB.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val setsA = rowsA.toMap.view.mapValues(shingleSet).toMap
      val setsB = rowsB.toMap.view.mapValues(shingleSet).toMap

      // strictly cross-corpus, one row per pair
      got.foreach { case (a, b, _) =>
        assert(setsA.contains(a) && setsB.contains(b), s"not cross ($a,$b)")
      }
      assert(got.map(p => (p._1, p._2)).distinct.length == got.length)

      // every Jaccard is the reference's double, at or above threshold
      got.foreach { case (a, b, j) =>
        val (sa, sb) = (setsA(a), setsB(b))
        val inter = (sa intersect sb).size
        val ref = inter.toDouble / (sa.size + sb.size - inter)
        assert(ref >= 0.5, s"pair ($a,$b) below threshold: $ref")
        assert(j == ref, s"jaccard mismatch ($a,$b): $j vs $ref")
      }

      // exact-copy recall: every cross pair with equal non-empty sets
      val found = got.map(p => (p._1, p._2)).toSet
      val exact = for {
        (a, sa) <- setsA if sa.nonEmpty
        (b, sb) <- setsB if sb == sa
      } yield (a, b)
      assert(exact.nonEmpty)
      exact.foreach(p => assert(found.contains(p), s"exact copy $p missed"))
    }
}
