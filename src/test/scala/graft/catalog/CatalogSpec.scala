package graft.catalog

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.scd.{MergeOptions, ScdMerge}
import graft.scd.ScdMergeSpec
import org.apache.spark.sql.functions._

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  def freshCatalog(): ParquetCatalog = new ParquetCatalog(spark, freshRoot())

  def freshRoot(): String = Files.createTempDirectory("graft-cat").toString

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

  test("vacuum keeps a version claimed above the pointer until it swaps") {
    val cat = freshCatalog()
    cat.create("t", Seq((1L, "a")).toDF("id", "v").schema) // v0
    cat.overwrite("t", Seq((1L, "a")).toDF("id", "v")) // v1
    val root = cat.table("t").inputFiles.head
      .replaceAll("file:", "").replaceAll("/v_[0-9]+/.*", "")
    // a writer has claimed v2 (its directory is in place) but has not
    // swapped the pointer yet when another writer's vacuum runs
    Seq((2L, "b")).toDF("id", "v").write
      .parquet(Paths.get(root, "v_000002").toString)
    cat.vacuum("t")
    assert(cat.table("t").as[(Long, String)].collect().toSet === Set((1L, "a")))
    cat.swapPointerMonotonic("t", 2L, "late")
    assert(cat.currentVersion("t") === Some(2L))
    assert(cat.table("t").as[(Long, String)].collect().toSet === Set((2L, "b")))
    // the claimed version is current now, so the next vacuum drops v0/v1
    cat.vacuum("t")
    assert(!Files.exists(Paths.get(root, "v_000001")))
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
    graft.scd.CatalogSql.executeMor(spark, catMor, del, "id")
    graft.scd.CatalogSql.executeMor(spark, catMor, upd, "id")
    graft.scd.CatalogSql.execute(spark, catCow, del)
    graft.scd.CatalogSql.execute(spark, catCow, upd)
    val mor = catMor.table("t").as[(Long, String, Long)].collect().toSet
    val cow = catCow.table("t").as[(Long, String, Long)].collect().toSet
    assert(mor === cow)
    assert(catMor.deltaChainLength("t") === 2)
    assert(catCow.deltaChainLength("t") === 0)
  }

  /** One random DELETE/UPDATE over `t(id, g, s, n)`: predicates that
    * evaluate to NULL on the NULL-bearing columns, and an optional
    * alias whose (or the table name's) qualifier prefixes references
    * and assignment keys.
    */
  private def randomDml(rnd: scala.util.Random): String = {
    val (as, q) = rnd.nextInt(3) match {
      case 0 => ("", "")
      case 1 => ("", "t.")
      case _ => (" AS x", "x.")
    }
    def pred(): String = rnd.nextInt(8) match {
      case 0 => s"${q}g > ${rnd.nextInt(10)}"
      case 1 => s"${q}s = 'k${rnd.nextInt(5)}'"
      case 2 => s"${q}n % ${2 + rnd.nextInt(5)} = ${rnd.nextInt(2)}"
      case 3 => s"NOT (${q}g < ${rnd.nextInt(10)})"
      case 4 => s"${q}g = NULL"
      case 5 => val a = rnd.nextInt(200); s"${q}id BETWEEN $a AND ${a + 40}"
      case 6 => s"(${pred()} AND ${pred()})"
      case _ => s"(${pred()} OR ${pred()})"
    }
    if (rnd.nextInt(3) == 0) s"DELETE FROM t$as WHERE ${pred()}"
    else {
      val sets = rnd.shuffle(Seq(
        s"${q}n = ${q}n + ${1 + rnd.nextInt(9)}",
        s"${q}s = concat(coalesce(${q}s, ''), '!')",
        s"${q}g = NULL",
        s"${q}g = ${q}g * 2")).take(1 + rnd.nextInt(2))
      val where = if (rnd.nextInt(5) == 0) "" else s" WHERE ${pred()}"
      s"UPDATE t$as SET ${sets.mkString(", ")}$where"
    }
  }

  Seq(3L, 17L, 101L).foreach { seed =>
    test(s"merge-on-read == copy-on-write at every version (seed $seed)") {
      val rnd = new scala.util.Random(seed)
      val df = (0L until 200L).map { i =>
        (i, if (i % 7 == 3) None else Some(rnd.nextInt(10)),
          if (i % 5 == 1) None else Some(s"k${rnd.nextInt(5)}"),
          rnd.nextInt(100).toLong)
      }.toDF("id", "g", "s", "n")
      val (catMor, catCow) = (freshCatalog(), freshCatalog())
      Seq(catMor, catCow).foreach(_.createAs("t", df))
      def version(c: ParquetCatalog) = c.currentVersion("t").get
      val statements = Seq.fill(7)(randomDml(rnd))
      val versions = (version(catMor), version(catCow)) +: statements.map {
        sql =>
          graft.scd.CatalogSql.executeMor(spark, catMor, sql, "id")
          graft.scd.CatalogSql.execute(spark, catCow, sql)
          (version(catMor), version(catCow))
      }
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSet
      versions.zip("" +: statements).foreach { case ((vm, vc), sql) =>
        assert(rows(catMor.tableAsOfVersion("t", vm)) ===
          rows(catCow.tableAsOfVersion("t", vc)), s"after: $sql")
      }
      assert(catMor.deltaChainLength("t") === statements.length)
      catMor.compact("t")
      assert(catMor.deltaChainLength("t") === 0)
      assert(rows(catMor.table("t")) === rows(catCow.table("t")))
    }
  }

  test("building a catalog or ScdTable read runs no Spark job") {
    import ScdMergeSpec._
    import org.apache.spark.graft.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = freshRoot()
    val cat = new ParquetCatalog(spark, root)
    val dim = new graft.scd.ScdTable(cat, "dim_user", dimUser)
    dim.init(spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1, "user1", true, "a1", "123", "John", "Doe",
        1980, 1, ts("2024-04-01 00:00:00"), high, true)), prodSchema))
    cat.createAs("t", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"))
    // v1: a vector in more part files than Spark lists on the driver
    cat.publishDelta("t", "id", (501L to 1000L).toDF("id").repartition(40))
    val dv = Files.list(Paths.get(root, "t", "v_000001", "_dv"))
    assert(try dv.filter(_.toString.endsWith(".parquet")).count() > 32
      finally dv.close())
    cat.publishDelta("t", "id", Seq(3).toDF("id"), // v2: an int vector
      Some(Seq((3L, "c2")).toDF("id", "v")))
    val facts = Seq(("user1", ts("2024-05-01 00:00:00"))).toDF("login", "ts")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(build: => org.apache.spark.sql.DataFrame): Int = {
      ListenerBridge.drain(sc)
      jobs.set(0)
      build
      ListenerBridge.drain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    val built = try Seq(
      "table" -> jobsOf(cat.table("dim_user")),
      "full version" -> jobsOf(cat.tableAsOfVersion("t", 0)),
      "2-delta chain" -> jobsOf(cat.tableAsOfVersion("t", 2)),
      "active" -> jobsOf(dim.active),
      "asOf" -> jobsOf(dim.asOf(asOf)),
      "asOfJoin" -> jobsOf(dim.asOfJoin(facts, Seq("login"), "ts")),
      "asOfJoinNative" -> jobsOf(dim.asOfJoinNative(facts, Seq("login"), "ts")))
    finally sc.removeSparkListener(listener)
    assert(built.forall(_._2 == 0), s"jobs per relation built: $built")
    assert(cat.table("t").as[(Long, String)].collect().toSet ===
      (1L to 500L).map(i => (i, if (i == 3) "c2" else s"v$i")).toSet)
    assert(dim.asOfJoin(facts, Seq("login"), "ts").count() === 1)
  }

  test("stored-schema reads equal inference for every publish shape") {
    import graft.scd.CatalogSql
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    val cat = new ParquetCatalog(spark, root)
    // non-nullable columns of the kinds whose nullability or type a
    // stored schema could get wrong
    val wide = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("xs", ArrayType(IntegerType, containsNull = false),
        nullable = false),
      StructField("st", StructType(Seq(
        StructField("a", StringType, nullable = false))), nullable = false),
      StructField("amount", DecimalType(20, 3), nullable = false),
      StructField("at", TimestampNTZType, nullable = false)))
    val rows = (1L to 4L).map(i => Row(i, Seq(i.toInt), Row(s"s$i"),
      new java.math.BigDecimal(s"$i.125"),
      java.time.LocalDateTime.of(2024, 1, i.toInt, 0, 0)))
    val wideDf = spark.createDataFrame(rows.asJava, wide)
    cat.create("w", wide) // empty frame
    cat.overwrite("w", wideDf)
    cat.append("w", wideDf.limit(1))
    cat.overwriteIf("w", wideDf, cat.currentVersion("w").get)
    cat.compact("w")
    cat.publishDelta("w", "id", Seq(1L).toDF("id")) // no rows
    cat.publishDelta("w", "id", Seq(2).toDF("id"), // rows; int vector
      Some(wideDf.filter(col("id") === 2).withColumn("amount",
        col("amount") + lit(1))))
    cat.createAs("c", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    CatalogSql.execute(spark, cat, "ALTER TABLE c ADD COLUMN score BIGINT")
    CatalogSql.execute(spark, cat, "ALTER TABLE c DROP COLUMN v")
    CatalogSql.execute(spark, cat, "ALTER TABLE c RENAME COLUMN score TO s")
    cat.overwrite("c", cat.table("c").withColumn("f", lit(0.5))) // widened
    // the same tables in the layout of versions published before the
    // schema sidecar: every read there infers from parquet footers
    val legacyRoot = freshRoot()
    Files.walk(Paths.get(root)).iterator().asScala.toList.foreach { p =>
      val to = Paths.get(legacyRoot).resolve(Paths.get(root).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else if (p.getFileName.toString != "_graft_schema.json") Files.copy(p, to)
    }
    val legacy = new ParquetCatalog(spark, legacyRoot)
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    for (t <- Seq("w", "c"); v <- 0L to cat.currentVersion(t).get) {
      val dir = Paths.get(root, t, f"v_$v%06d")
      val stored = cat.tableAsOfVersion(t, v)
      val delta = Files.exists(dir.resolve("_dv"))
      assert(Files.exists(dir.resolve(if (delta) "_dv/_graft_schema.json"
        else "_graft_schema.json")), s"$t v$v has no stored schema")
      if (!delta)
        assert(stored.schema === spark.read.parquet(dir.toString).schema,
          s"$t v$v")
      val inferred = legacy.tableAsOfVersion(t, v)
      assert(stored.schema === inferred.schema, s"$t v$v")
      assert(sorted(stored) === sorted(inferred), s"$t v$v")
    }
    assert(cat.table("c").columns.toSeq === Seq("id", "s", "f"))
    assert(cat.table("w").count() === 3)
  }

  test("a partitioned publish keeps its inferred partition-column types") {
    val root = freshRoot()
    val cat = new ParquetCatalog(spark, root)
    val df = Seq((1L, 7L), (2L, 8L)).toDF("id", "grp")
    cat.createAs("p", df)
    cat.overwrite("p", df, partitionBy = Seq("grp"))
    val dir = Paths.get(root, "p", "v_000001")
    assert(!Files.exists(dir.resolve("_graft_schema.json")))
    // grp's type comes from the directory names (int), not the frame (long)
    assert(cat.table("p").schema === spark.read.parquet(dir.toString).schema)
    assert(cat.table("p").schema("grp").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(cat.table("p").as[(Long, Int)].collect().toSet ===
      Set((1L, 7), (2L, 8)))
  }
}
