package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(SparkEntry.cpus)
    // JIT/codegen warmup so the first measured query doesn't absorb
    // session bring-up (~4s of JVM compile on a cold driver)
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.queries.head._2(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Two actions per query:
    //  - count(): the action the r1–r7 records (and BASELINE.json)
    //    were taken with — kept for archaeology/vs-baseline, ONE run
    //    (the operative metric moved to noop in round 8; burning two
    //    more repeats on a non-operative number is what pushed the
    //    round-18 sweep past the driver's bench window, rc=124);
    //  - noop sink: materializes every output column, which count
    //    does not — Catalyst prunes unused projections and eliminates
    //    unique-keyed outer joins plus the windows feeding them, so
    //    count under-times queries whose expensive columns it doesn't
    //    need. Reported as queries_noop/noop_total; the HEADLINE.
    // noop repeats are ADAPTIVE (round 19, documented in BASELINE.md):
    // best-of-3 while the first run stays under 5 s (scheduler/GC
    // noise damping where it matters — fast queries have the worst
    // relative noise), best-of-2 above (a ≥5 s query's run-to-run
    // noise is small relative to its cost, and the third repeat of the
    // tail queries is pure bench-window burn).
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def run(action: org.apache.spark.sql.DataFrame => Unit,
          tag: String, i: Int): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          action(fn(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            // a failed run contributes NO timing (its time-to-failure
            // would otherwise masquerade as a fast success)
            System.err.println(
              s"[bench] $name $tag run $i FAILED: ${e.getMessage}")
            None
        }
      }
      val counts = run(_.count(): Unit, "count", 1).toSeq
      val noop1 = run(
        _.write.format("noop").mode("overwrite").save(), "noop", 1)
      val extra = if (noop1.exists(_ > 5.0)) 1 else 2
      val noops = noop1.toSeq ++ (1 to extra).flatMap(i => run(
        _.write.format("noop").mode("overwrite").save(), "noop", i + 1))
      // -1 is the explicit all-runs-failed marker in the emitted JSON
      (name, if (counts.nonEmpty) counts.min else -1.0,
        if (noops.nonEmpty) noops.min else -1.0)
    }
    def obj(f: ((String, Double, Double)) => (String, Double)): String =
      results.map { r => val (k, v) = f(r); "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val qs = obj(r => (r._1, r._2))
    val qsNoop = obj(r => (r._1, r._3))
    // total = successful queries only; -1 markers would otherwise SUBTRACT
    // from the headline. failed count keeps the total honest.
    val total = results.map(_._2).filter(_ >= 0).sum
    val noopTotal = results.map(_._3).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    // The HEADLINE value is the noop total — the action that
    // materializes every output column (count lets Catalyst eliminate
    // unique-keyed outer joins and the windows feeding them, so it
    // under-times; BASELINE.md marks noop operative). count_total stays
    // in both payloads for archaeology against the r1–r7 records.
    val full =
      s"""{"metric":"total","value":$noopTotal,"unit":"sec","failed":$failed,"count_total":$total,"queries":$qs,"noop_total":$noopTotal,"queries_noop":$qsNoop,"sf":"$sfDir"}"""
    // Per-query detail goes to BENCH_LAST.json ONLY: the full line
    // outgrew the driver's captured stdout tail (r06's tail began
    // mid-line and parsed as null). Stdout carries one COMPACT line —
    // totals + failure count — small enough to always fit the buffer,
    // and it is the LAST line (showSuccess := false keeps sbt quiet).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"), full + "\n")
    println(s"""{"metric":"total","value":$noopTotal,"unit":"sec","failed":$failed,"n_queries":${results.size},"count_total":$total,"noop_total":$noopTotal,"sf":"$sfDir"}""")
    spark.stop()
  }
}
