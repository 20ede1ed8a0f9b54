package graft.catalog

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.scd.{MergeOptions, ScdMerge}
import graft.scd.ScdMergeSpec
import org.apache.spark.sql.functions._

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  def freshCatalog(): ParquetCatalog = {
    val root = Files.createTempDirectory("graft-cat").toString
    new ParquetCatalog(spark, root)
  }

  test("create / createLike / drop / exists") {
    val cat = freshCatalog()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.create("t1", df.schema)
    assert(cat.exists("t1") && cat.table("t1").count() === 0)
    cat.createLike("t2", "t1")
    assert(cat.table("t2").schema === cat.table("t1").schema)
    cat.drop("t1")
    assert(!cat.exists("t1"))
    cat.drop("t1") // IF EXISTS semantics: no throw
    intercept[IllegalArgumentException](cat.drop("t1", ifExists = false))
  }

  test("append and overwrite are atomic versioned publishes") {
    val cat = freshCatalog()
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.create("t", df.schema)
    cat.append("t", df)
    cat.append("t", Seq((2L, "b")).toDF("id", "v"))
    assert(cat.table("t").count() === 2)
    assert(cat.currentVersion("t") === Some(2L))
    cat.overwrite("t", Seq((9L, "z")).toDF("id", "v"))
    assert(cat.table("t").as[(Long, String)].collect().toSet === Set((9L, "z")))
    // time travel: the pre-overwrite snapshot is still readable
    assert(cat.tableAsOfVersion("t", 2).count() === 2)
    cat.vacuum("t")
    assert(cat.table("t").count() === 1)
  }

  test("crash between data write and pointer swap leaves table intact") {
    val cat = freshCatalog()
    cat.create("t", Seq((1L, "a")).toDF("id", "v").schema)
    cat.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    val root = cat.table("t").inputFiles.head
      .replaceAll("file:", "").replaceAll("/v_[0-9]+/.*", "")
    // simulate the crash: a dangling version directory, pointer untouched
    Seq((2L, "b")).toDF("id", "v").write
      .parquet(Paths.get(root, "v_000099").toString)
    assert(cat.table("t").as[(Long, String)].collect().toSet === Set((1L, "a")))
    assert(cat.currentVersion("t") === Some(1L))
  }

  test("stalled writer cannot regress the pointer past a newer commit") {
    val cat = freshCatalog()
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.create("t", df.schema) // v0
    cat.overwrite("t", df) // v1
    cat.overwrite("t", Seq((2L, "b")).toDF("id", "v")) // v2
    assert(cat.currentVersion("t") === Some(2L))
    // replay writer A: claimed v1 long ago, stalled, and only swaps the
    // pointer now — after v2 committed. The swap must be a no-op, or v2
    // would vanish from reads and the next vacuum would delete its data.
    cat.swapPointerMonotonic("t", 1L, "stale")
    assert(cat.currentVersion("t") === Some(2L))
    assert(cat.table("t").as[(Long, String)].collect().toSet === Set((2L, "b")))
  }

  test("concurrent overwrites leave the pointer at the max claimed version") {
    val cat = freshCatalog()
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.create("t", df.schema)
    // writers may exhaust their retry budget under this much contention
    // (each retry re-runs a full Spark write) — that is allowed; what is
    // NOT allowed is any committed version disappearing from the pointer.
    val threads = (1 to 4).map { i =>
      new Thread(() => (1 to 3).foreach { j =>
        try cat.overwrite("t", Seq((i * 10L + j, "x")).toDF("id", "v"))
        catch {
          case e: IllegalStateException
              if e.getMessage.contains("lost the version race") => ()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val tableDir = Paths.get(cat.table("t").inputFiles.head
      .replaceAll("file:", "").replaceAll("/v_[0-9]+/.*", ""))
    import scala.jdk.CollectionConverters._
    val maxClaimed = Files.list(tableDir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("v_")).map(_.stripPrefix("v_").toLong).max
    assert(cat.currentVersion("t") === Some(maxClaimed))
    assert(cat.table("t").count() === 1)
  }

  test("threads of one JVM queue for the pointer lock instead of throwing") {
    val cat = freshCatalog()
    cat.create("t", Seq((1L, "a")).toDF("id", "v").schema)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    val threads = (0 until 4).map { i =>
      new Thread(() => (1 to 200).foreach { j =>
        try cat.swapPointerMonotonic("t", 4L * j + i, s"t$i-$j")
        catch { case _: Throwable => failures.incrementAndGet() }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.get == 0)
    assert(cat.currentVersion("t") === Some(4L * 200 + 3))
  }

  test("SCD merge reads its own table and publishes back (self-overwrite)") {
    import ScdMergeSpec._
    val cat = freshCatalog()
    cat.create("dim_user", prodSchema)
    val seed = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1, "user1", true, "a1", "123", "John", "Doe",
        1980, 1, ts("2024-04-01 00:00:00"), high, true)), prodSchema)
    cat.overwrite("dim_user", seed)
    val staging = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("user1", "John", "Doe", 1980, true, "a2", "123")),
      stagSchema)
    // read current snapshot, merge, publish — no checkpoint needed because
    // the new version is a different directory
    val merged = ScdMerge.merge(cat.table("dim_user"), staging, dimUser,
      MergeOptions(asOf))
    cat.overwrite("dim_user", merged)
    val out = cat.table("dim_user")
    assert(out.count() === 2)
    assert(out.filter(col("scd_active")).select("address").head.getString(0)
      === "a2")
  }

  test("schema evolution: widened overwrite, old snapshots keep old schema") {
    val cat = freshCatalog()
    cat.create("t", Seq((1L, "a")).toDF("id", "v").schema)
    cat.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    // add a column copy-on-write style: new version, evolved schema
    cat.overwrite("t",
      cat.table("t").withColumn("score", lit(0.5)))
    assert(cat.table("t").columns.toSeq === Seq("id", "v", "score"))
    // time travel sees the pre-evolution schema, not a patched view
    assert(cat.tableAsOfVersion("t", 1).columns.toSeq === Seq("id", "v"))
    // and narrowing back is equally just another version
    cat.overwrite("t", cat.table("t").drop("v"))
    assert(cat.table("t").columns.toSeq === Seq("id", "score"))
  }

  test("compaction collapses small-file accretion, keeps data and history") {
    val cat = freshCatalog()
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.create("t", df.schema)
    // simulate streaming-append accretion: many tiny appends
    (1 to 5).foreach(i =>
      cat.append("t", Seq((i.toLong, s"v$i")).toDF("id", "v")
        .repartition(4)))
    val before = cat.stats("t")
    assert(before.files >= 5, s"expected fragmentation, got $before")
    val content = cat.table("t").as[(Long, String)].collect().toSet
    cat.compact("t")
    val after = cat.stats("t")
    assert(after.files < before.files)
    assert(after.version === before.version + 1)
    assert(cat.table("t").as[(Long, String)].collect().toSet === content)
    // the fragmented snapshot is still time-travelable
    assert(cat.tableAsOfVersion("t", before.version).count() === content.size)
  }

  test("concurrent publishes never interleave one version directory") {
    val cat = freshCatalog()
    cat.create("t", Seq((1L, "a")).toDF("id", "v").schema)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            cat.overwrite("t", Seq((i.toLong, s"w$i")).toDF("id", "v"))
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    // 4 writers -> exactly versions 1..4 each a complete single-writer
    // snapshot (1 row); the pointer lands on one of them
    assert(cat.currentVersion("t").exists(v => v >= 1 && v <= 4))
    (1L to 4L).foreach { v =>
      assert(cat.tableAsOfVersion("t", v).count() === 1)
    }
  }

  test("overwriteIf: optimistic compare-and-publish, loud on conflict") {
    val cat = freshCatalog()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.create("t", df.schema)
    cat.overwrite("t", df) // v1
    val seen = cat.currentVersion("t").get
    cat.overwriteIf("t", Seq((3L, "c")).toDF("id", "v"), seen) // v2
    assert(cat.currentVersion("t") === Some(seen + 1))
    // a second writer still holding the OLD version must fail loudly,
    // not silently base its publish on a stale snapshot
    intercept[java.util.ConcurrentModificationException] {
      cat.overwriteIf("t", Seq((4L, "d")).toDF("id", "v"), seen)
    }
    // the conflict left no partial state: content is the winner's
    assert(cat.table("t").as[(Long, String)].collect().toSet ===
      Set((3L, "c")))
  }

  test("merge-on-read delta: delete vector applies at scan time") {
    val cat = freshCatalog()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v")
    cat.create("t", df.schema)
    cat.overwrite("t", df) // v1 (full)
    cat.publishDelta("t", "id", Seq(2L).toDF("id")) // v2 = delta
    assert(cat.deltaChainLength("t") === 1)
    assert(cat.table("t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c"), (4L, "d")))
    // time travel still sees the pre-delete content
    assert(cat.tableAsOfVersion("t", 1L).count() === 4)
    // chained delta with replacement rows (the MoR upsert shape)
    cat.publishDelta("t", "id", Seq(3L).toDF("id"),
      Some(Seq((3L, "c2")).toDF("id", "v")))
    assert(cat.deltaChainLength("t") === 2)
    assert(cat.table("t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c2"), (4L, "d")))
    // vacuum keeps the live chain's base versions
    cat.vacuum("t")
    assert(cat.table("t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c2"), (4L, "d")))
    // compaction folds the chain into a FULL version; content unchanged
    cat.compact("t")
    assert(cat.deltaChainLength("t") === 0)
    assert(cat.table("t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c2"), (4L, "d")))
    // now vacuum may drop everything the full version replaced
    cat.vacuum("t")
    assert(cat.table("t").count() === 3)
  }

  test("merge-on-read DML: executeMor == execute (CoW) content") {
    val catMor = freshCatalog()
    val catCow = freshCatalog()
    val df = Seq((1L, "keep", 10L), (2L, "drop", 20L), (3L, "keep", 30L),
      (4L, "bump", 40L)).toDF("id", "tag", "n")
    Seq(catMor, catCow).foreach { c =>
      c.create("t", df.schema); c.overwrite("t", df)
    }
    val del = "DELETE FROM t WHERE tag = 'drop'"
    val upd = "UPDATE t SET n = n + 1 WHERE tag = 'bump'"
    graft.scd.DmlSql.executeMor(spark, catMor, del, "id")
    graft.scd.DmlSql.executeMor(spark, catMor, upd, "id")
    graft.scd.DmlSql.execute(spark, catCow, del)
    graft.scd.DmlSql.execute(spark, catCow, upd)
    val mor = catMor.table("t").as[(Long, String, Long)].collect().toSet
    val cow = catCow.table("t").as[(Long, String, Long)].collect().toSet
    assert(mor === cow)
    assert(catMor.deltaChainLength("t") === 2)
    assert(catCow.deltaChainLength("t") === 0)
  }
}
