package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal versioned table catalog over Parquet directories — the engine
  * analogue of the reference's Hive DDL + `INSERT OVERWRITE` publish
  * (reference `SCD_script.txt:3-4,141`; operators O1-O4, O22, O23 of
  * SURVEY.md §2.1).
  *
  * Layout: `<root>/<table>/v_<n>/part-*.parquet` plus a `_CURRENT` pointer
  * file naming the live version. Publishing writes the NEW version
  * directory first, then atomically replaces `_CURRENT` (POSIX rename over
  * an existing file) — so:
  *
  *  - readers never observe a partial table (the reference gets this from
  *    HDFS directory replace; we get it from the pointer swap);
  *  - a crash between data write and pointer swap leaves the table on the
  *    old version — production intact, exactly the property the 8-step
  *    pipeline is built around (SURVEY.md §3.1);
  *  - a merge can read its own table and publish back without Spark's
  *    "cannot overwrite a path being read" restriction, because versions
  *    live in different directories (hazard §4.3(2));
  *  - old versions remain readable: snapshot reads / time travel, the
  *    Delta/Iceberg-style capability named in the north star.
  */
final class ParquetCatalog(spark: SparkSession, root: String) {

  private val MetaFile = "_graft_meta.properties"
  private val BaseFile = "_graft_base.properties"

  private def tableDir(name: String): Path = Paths.get(root, name)
  private def versionDir(name: String, v: Long): Path =
    tableDir(name).resolve(f"v_$v%06d")
  private def pointer(name: String): Path =
    tableDir(name).resolve("_CURRENT")

  def exists(name: String): Boolean = Files.exists(pointer(name))

  /** Current committed version, if the table exists. */
  def currentVersion(name: String): Option[Long] =
    if (!exists(name)) None
    else Some(Files.readString(pointer(name)).trim.stripPrefix("v_").toLong)

  /** O3: CREATE TABLE with an explicit schema (empty version 0). */
  def create(name: String, schema: StructType): Unit = {
    require(!exists(name), s"table $name already exists")
    publishVersion(name, spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
  }

  /** O2: CREATE TABLE LIKE — clone another table's schema, no data. */
  def createLike(name: String, source: String): Unit =
    create(name, table(source).schema)

  /** CTAS: create a table whose FIRST version IS the query result
    * (one atomic publish — no intermediate empty version, so time
    * travel to version 0 reads the created content).
    */
  def createAs(name: String, df: DataFrame): Unit = {
    require(!exists(name), s"table $name already exists")
    publishVersion(name, df)
  }

  /** O1: DROP TABLE IF EXISTS. */
  def drop(name: String, ifExists: Boolean = true): Unit = {
    val dir = tableDir(name)
    if (Files.exists(dir)) deleteRecursively(dir)
    else if (!ifExists) throw new IllegalArgumentException(s"no table $name")
  }

  /** O5: scan the current committed snapshot. Plain inference: parquet
    * footers carry the schema even for empty tables, and an explicit
    * schema(read(...).schema) would just list files and read footers a
    * second time.
    */
  def table(name: String): DataFrame = {
    val v = currentVersion(name)
      .getOrElse(throw new IllegalArgumentException(s"no table $name"))
    readVersion(name, v)
  }

  /** Snapshot read of a historical version (time travel). */
  def tableAsOfVersion(name: String, v: Long): DataFrame =
    readVersion(name, v)

  /** Resolve a version to its content: a FULL version is a plain read;
    * a DELTA version ([[publishDelta]]) applies its deletion vector to
    * the base version's content (anti-join at scan time — the
    * merge-on-read path) and unions any rows the delta carries.
    */
  private def readVersion(name: String, v: Long): DataFrame = {
    val dir = versionDir(name, v)
    require(Files.exists(dir), s"no version v_$v of $name")
    deltaBase(name, v) match {
      case None => spark.read.parquet(dir.toString)
      case Some((baseV, key)) =>
        val base = readVersion(name, baseV)
        val dvDir = dir.resolve("_dv")
        val afterDel =
          if (Files.exists(dvDir))
            base.join(spark.read.parquet(dvDir.toString), Seq(key),
              "left_anti")
          else base
        if (hasDataFiles(dir))
          afterDel.unionByName(spark.read.parquet(dir.toString))
        else afterDel
    }
  }

  /** (base version, key column) if `v` is a delta version. */
  private def deltaBase(name: String, v: Long): Option[(Long, String)] = {
    val p = versionDir(name, v).resolve(BaseFile)
    if (!Files.exists(p)) None
    else {
      val props = new java.util.Properties()
      val in = Files.newInputStream(p)
      try props.load(in) finally in.close()
      Some((props.getProperty("base").toLong, props.getProperty("key")))
    }
  }

  private def hasDataFiles(dir: Path): Boolean = {
    val listing = Files.list(dir)
    try listing.anyMatch { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    } finally listing.close()
  }

  /** O22: INSERT INTO (append) — copy-on-write into a new version, so
    * concurrent readers keep their snapshot.
    */
  def append(name: String, df: DataFrame,
      meta: Map[String, String] = Map.empty): Unit =
    overwrite(name, table(name).unionByName(df), meta = meta)

  /** O23: INSERT OVERWRITE — full-content atomic replace. Optional hive
    * partitioning (`partitionBy`) lays the version out as
    * `col=value/part-*.parquet` so reads with partition-key predicates
    * prune whole directories before any I/O. `meta` commits atomically
    * WITH the version (it rides the directory rename) — the hook for
    * idempotent writers (streaming batch ids, job run ids).
    */
  def overwrite(name: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty): Unit = {
    require(exists(name), s"no table $name")
    publishVersion(name, df, partitionBy, meta)
  }

  /** [[overwrite]] with OPTIMISTIC concurrency: publishes only if the
    * table is still at `expectedVersion` (the version the caller read
    * its inputs from). A concurrent publish in between raises
    * `ConcurrentModificationException` — loud conflict detection
    * instead of the default last-pointer-swap-wins, for writers whose
    * new content derives from the old (read-modify-write merges).
    */
  def overwriteIf(name: String, df: DataFrame, expectedVersion: Long,
      partitionBy: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty): Unit = {
    require(exists(name), s"no table $name")
    publishVersion(name, df, partitionBy, meta, Some(expectedVersion))
  }

  /** Publish a MERGE-ON-READ delta version: the table's content
    * becomes (current content MINUS rows whose `keyCol` is in
    * `delKeys`) UNION `addRows`. Only the delta is written — the
    * deletion-vector sidecar (`_dv/`) and any new rows — so a point
    * DELETE at 100 TB costs O(deleted keys), not a full-table rewrite
    * (the copy-on-write cost [[overwrite]] pays). Reads apply the
    * vector at scan time ([[readVersion]]: one anti-join per delta
    * version in the chain); [[compact]] materializes the resolved
    * content back into a FULL version when the chain grows —
    * the VACUUM-style compaction step of every MoR table format.
    *
    * Readers keep their snapshot: the delta is a NEW version whose
    * base pointer rides the same atomic claim as any publish. Time
    * travel resolves through the chain, and [[vacuum]] keeps every
    * version a live delta chain references.
    *
    * `expectedBase` pins the delta to the version the CALLER computed
    * its keys/rows against (the [[overwriteIf]] CAS for deltas): if a
    * concurrent publish advanced the table past it, the publish raises
    * `ConcurrentModificationException` instead of silently chaining a
    * delta derived from a stale snapshot onto the new content.
    */
  def publishDelta(name: String, keyCol: String, delKeys: DataFrame,
      addRows: Option[DataFrame] = None,
      expectedBase: Option[Long] = None): Unit = {
    val base = expectedBase.orElse(currentVersion(name))
      .getOrElse(throw new IllegalArgumentException(s"no table $name"))
    require(delKeys.columns.toSeq == Seq(keyCol),
      s"delKeys must be exactly ($keyCol); got " +
        delKeys.columns.mkString(","))
    claimNextVersion(name, Some(base), tmpDir => {
      addRows match {
        case Some(rows) =>
          rows.write.mode("overwrite").parquet(tmpDir.toString)
        case None => Files.createDirectories(tmpDir)
      }
      delKeys.write.mode("overwrite")
        .parquet(tmpDir.resolve("_dv").toString)
      val props = new java.util.Properties()
      props.setProperty("base", base.toString)
      props.setProperty("key", keyCol)
      val out = Files.newOutputStream(tmpDir.resolve(BaseFile))
      try props.store(out, null) finally out.close()
    })
  }

  /** Number of delta versions the current version resolves through —
    * the compaction signal for MoR chains (each delta adds one
    * anti-join to every scan).
    */
  def deltaChainLength(name: String): Int = {
    var v = currentVersion(name)
      .getOrElse(throw new IllegalArgumentException(s"no table $name"))
    var n = 0
    var base = deltaBase(name, v)
    while (base.isDefined) {
      n += 1; v = base.get._1; base = deltaBase(name, v)
    }
    n
  }

  /** Metadata committed with the current version (empty if none). */
  def currentMeta(name: String): Map[String, String] = {
    val v = currentVersion(name)
      .getOrElse(throw new IllegalArgumentException(s"no table $name"))
    val p = versionDir(name, v).resolve(MetaFile)
    if (!Files.exists(p)) Map.empty
    else {
      val props = new java.util.Properties()
      val in = Files.newInputStream(p)
      try props.load(in) finally in.close()
      import scala.jdk.CollectionConverters._
      props.asScala.toMap
    }
  }

  /** Write `df` as the next version, then atomically swap the pointer.
    *
    * Concurrency contract: LAST POINTER SWAP WINS between concurrent
    * writers (each builds its full content from its own snapshot read — the
    * same first-committer-loses outcome as optimistic-concurrency table
    * formats without conflict detection). What CANNOT happen is two writers
    * interleaving files inside one version directory: the version data is
    * staged in a private `_tmp_v_N.<nonce>` directory and claimed with an
    * atomic directory rename that fails if `v_N` already exists; the loser
    * retries against the advanced version counter rather than corrupting
    * the winner's snapshot.
    */
  private def publishVersion(name: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty,
      expected: Option[Long] = None): Unit =
    claimNextVersion(name, expected, tmpDir => {
      val writer = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(tmpDir.toString)
      if (meta.nonEmpty) {
        // written BEFORE the atomic claim: metadata and data commit (or
        // vanish) together
        val props = new java.util.Properties()
        meta.foreach { case (k, v) => props.setProperty(k, v) }
        val out = Files.newOutputStream(tmpDir.resolve(MetaFile))
        try props.store(out, null) finally out.close()
      }
    })

  /** Stage-then-claim loop shared by every publish shape: `stage`
    * fills a private `_tmp_v_N.<nonce>` directory, the atomic directory
    * rename claims `v_N` (failing if a concurrent writer already
    * published that number), and the pointer swap commits. With
    * `expected = Some(e)` this is OPTIMISTIC compare-and-publish: the
    * publish succeeds only as version `e + 1` — any concurrent publish
    * in between (detected before staging or at claim time) raises a
    * loud ConcurrentModificationException instead of silently basing
    * the new content on a stale snapshot.
    */
  private def claimNextVersion(name: String, expected: Option[Long],
      stage: Path => Unit): Unit = {
    Files.createDirectories(tableDir(name))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    var attempts = 0
    var claimed = false
    while (!claimed) {
      val cur = currentVersion(name)
      expected.foreach { e =>
        if (!cur.contains(e)) throw new java.util
          .ConcurrentModificationException(
            s"publish of $name expected version $e but found " +
              cur.map(_.toString).getOrElse("<none>"))
      }
      val next = cur.map(_ + 1).getOrElse(0L)
      val tmpDir = tableDir(name).resolve(f"_tmp_v_$next%06d.$nonce")
      stage(tmpDir)
      try {
        // Atomic claim: fails (FileAlreadyExistsException under ATOMIC_MOVE)
        // if a concurrent writer already published this version number.
        Files.move(tmpDir, versionDir(name, next), StandardCopyOption.ATOMIC_MOVE)
        claimed = true
        swapPointerMonotonic(name, next, nonce)
      } catch {
        case e: java.nio.file.FileSystemException if !claimed =>
          deleteRecursively(tmpDir)
          expected.foreach { exp =>
            throw new java.util.ConcurrentModificationException(
              s"publish of $name expected version $exp but a concurrent " +
                s"writer claimed v_$next first")
          }
          attempts += 1
          if (attempts >= 5) throw new IllegalStateException(
            s"publish of $name lost the version race $attempts times", e)
      }
    }
  }

  /** Advance `_CURRENT` to `next` — but never backwards. Without the
    * compare, a writer that claimed v_5 then stalled could swap the
    * pointer AFTER a faster writer published v_6, silently hiding v_6
    * from reads (and a later [[vacuum]] would delete its data — strictly
    * worse than the documented "last pointer swap wins"). An exclusive
    * lock on `_CURRENT.lockfile` serializes the read-compare-swap, so
    * the pointer version is monotonic: late stalled writers lose, which
    * IS last-swap-wins restricted to swaps that move time forward.
    * (java.nio FileLock is advisory but all writers go through here.)
    * A FileLock belongs to the whole JVM: a second thread asking for it
    * gets `OverlappingFileLockException` instead of waiting. So threads
    * of one JVM first queue on [[ParquetCatalog.PointerMonitor]]; the
    * file lock then only arbitrates between processes.
    */
  private[catalog] def swapPointerMonotonic(name: String, next: Long,
      nonce: String): Unit = ParquetCatalog.PointerMonitor.synchronized {
    import java.nio.file.StandardOpenOption.{CREATE, WRITE}
    val ch = java.nio.channels.FileChannel.open(
      tableDir(name).resolve("_CURRENT.lockfile"), CREATE, WRITE)
    try {
      val lock = ch.lock()
      try {
        if (currentVersion(name).forall(_ < next)) {
          val tmp = tableDir(name).resolve(s"_CURRENT.tmp$next.$nonce")
          Files.writeString(tmp, f"v_$next%06d")
          Files.move(tmp, pointer(name), StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        }
      } finally lock.release()
    } finally ch.close()
  }

  /** File-level statistics of the current version — the signal for
    * [[compact]] (streaming appends and fine-grained merges accrete
    * small files; at 100 TB the NameNode/listing cost and per-file task
    * overhead make this the first table-maintenance lever).
    */
  def stats(name: String): TableStats = {
    val v = currentVersion(name)
      .getOrElse(throw new IllegalArgumentException(s"no table $name"))
    var files = 0L
    var bytes = 0L
    val walk = Files.walk(versionDir(name, v))
    try walk.forEach { p =>
      val n = p.getFileName.toString
      if (Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")) {
        files += 1
        bytes += Files.size(p)
      }
    } finally walk.close()
    TableStats(v, files, bytes)
  }

  /** Rewrite the current version into ~`targetFileBytes`-sized files
    * (copy-on-write: readers keep their snapshot; time travel still sees
    * the fragmented version). One shuffle-free coalesce when shrinking
    * file count, a repartition otherwise.
    */
  def compact(name: String, targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val s = stats(name)
    val target = math.max(1, math.ceil(s.bytes.toDouble / targetFileBytes).toInt)
    val df = table(name)
    val current = df.rdd.getNumPartitions
    val sized =
      if (target < current) df.coalesce(target)
      else if (target == current) df
      else df.repartition(target)
    // metadata carries forward: compaction changes layout, not content —
    // an idempotent writer's committed batch id must survive it
    overwrite(name, sized, meta = currentMeta(name))
  }

  /** Drop all versions the current one does not resolve through —
    * a delta chain keeps its base versions alive (deleting a base
    * would corrupt the live merge-on-read view, not just history).
    */
  def vacuum(name: String): Unit = {
    var v = currentVersion(name)
      .getOrElse(throw new IllegalArgumentException(s"no table $name"))
    var keep = Set(v)
    var base = deltaBase(name, v)
    while (base.isDefined) {
      v = base.get._1; keep += v; base = deltaBase(name, v)
    }
    val listing = Files.list(tableDir(name))
    try listing.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v_") && !keep.contains(n.stripPrefix("v_").toLong))
        deleteRecursively(p)
    } finally listing.close()
  }

  private def deleteRecursively(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()
  }
}

object ParquetCatalog {

  /** Serializes pointer swaps across every catalog instance in the
    * JVM, ahead of the per-table file lock.
    */
  private object PointerMonitor
}

/** See [[ParquetCatalog.stats]]. */
final case class TableStats(version: Long, files: Long, bytes: Long)
