package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one client in a closed loop, in this
  * one JVM. The last stdout line is the result JSON.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false, cpus: Int = 4,
      work: String = "", spans: String = "", selftest: Boolean = false,
      listMetrics: Boolean = false)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--cpus" :: v :: t => parse(t, acc.copy(cpus = v.toInt))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--spans" :: v :: t => parse(t, acc.copy(spans = v))
    case "--selftest" :: t => parse(t, acc.copy(selftest = true))
    case "--list-metrics" :: t => parse(t, acc.copy(listMetrics = true))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s_p50" -> "s", "ops_per_s" -> "1/s")

  /** Bench's session settings: SparkEntry.tune, UTC, shuffle partitions =
    * cpus, UI off, local[cpus].
    */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = graft.SparkEntry.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv.toList)
    if (a.listMetrics) {
      val ms = if (a.trace) Layers.Names else EndToEnd
      println(ms.map { case (n, u) => s""""$n":"$u"""" }.mkString("{", ",", "}"))
      return
    }
    val spark = session(a.cpus, a.work)
    val code =
      try {
        if (a.selftest) SelfTest.run(spark, a.work)
        else {
          // JIT and codegen warm up in the workload's first set-up
          val run = new Run(spark, a, (System.nanoTime() - t0) / 1e9)
          Workloads.byName(a.workload)(run)
          run.report()
        }
      } finally spark.stop()
    sys.exit(code)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile of `xs` (0 for no samples). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p / 100 * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample, with its percentile rank. Below 11 samples
    * there is no such percentile and the maximum is reported.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 11) (s.lastOption.getOrElse(0.0), 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }
}

/** State of one benchmark run: op accounting, samples, checks. */
final class Run(val spark: SparkSession, val args: Main.Args,
    val sessionSeconds: Double) {
  val seed: Long = args.seed
  val cpus: Int = args.cpus
  val work: String = args.work
  val tracer: Option[SparkTrace] =
    if (args.trace) Some(new SparkTrace(spark)) else None

  var attempted = 0L
  var failed = 0L
  /** Timed op durations by op kind (traced ops only when tracing). */
  val samples: mutable.LinkedHashMap[String, ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** Untraced op durations in a traced run, for the tracing overhead. */
  val untraced: ArrayBuffer[Double] = ArrayBuffer.empty
  val setupReps: ArrayBuffer[Double] = ArrayBuffer.empty
  var timedSeconds = 0.0
  val failures: ArrayBuffer[String] = ArrayBuffer.empty
  /** Layer figures a workload measures itself (see [[Layers]]). */
  val layerVals: mutable.Map[String, ArrayBuffer[Double]] = mutable.Map.empty
  /** Set-up and warm-up ops run untimed and unaccounted; a failure
    * aborts the run.
    */
  var warm = false
  private val opCounts = mutable.Map.empty[String, Long]

  def layerVal(name: String, v: Double): Unit =
    if (!warm) layerVals.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** The trace for the next op of `kind`: in a traced run every other op
    * of each kind is traced, so traced and untraced op times come from
    * the same run.
    */
  def nextTrace(kind: String): Trace = if (warm) Trace.Off else {
    val n = opCounts.getOrElse(kind, 0L) + 1
    opCounts(kind) = n
    tracer.filter(_ => n % 2 == 1).getOrElse(Trace.Off)
  }

  /** Time left for another op. A traced run also goes on until it has an
    * untraced op to compare with.
    */
  def budgetLeft: Boolean =
    timedSeconds < args.seconds || (tracer.isDefined && untraced.isEmpty)

  /** Time one op. A failed op is counted and logged but adds no timing. */
  def attempt[T](kind: String, t: Trace)(body: Trace => T): Option[T] = {
    if (warm) return Some(body(Trace.Off))
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = t.op(kind)(body(t))
      val s = (System.nanoTime() - t0) / 1e9
      timedSeconds += s
      record(kind, s, t)
      t.settle()
      Some(out)
    } catch {
      case NonFatal(e) =>
        timedSeconds += (System.nanoTime() - t0) / 1e9
        failed += 1
        System.err.println(s"[perfbench] $kind op failed: $e")
        e.printStackTrace()
        None
    }
  }

  def record(kind: String, seconds: Double, t: Trace): Unit =
    if (t.enabled || tracer.isEmpty)
      samples.getOrElseUpdate(kind, ArrayBuffer.empty) += seconds
    else untraced += seconds

  /** Seconds of the warm-up that follows the set-up repetitions. */
  var warmUpSeconds = 0.0

  private def untimed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    warm = true
    try body finally warm = false
    (System.nanoTime() - t0) / 1e9
  }

  /** Time one repetition of the input set-up. */
  def setup(body: => Unit): Unit = setupReps += untimed(body)

  /** Time the warm-up: one untimed op of each kind, after the set-up. */
  def warmUp(body: => Unit): Unit = warmUpSeconds = untimed(body)

  private val born = System.nanoTime()
  /** Log a phase boundary with the seconds since the run began. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.2fs $name")

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failures += what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }

  def tmp(name: String): String = s"$work/$name"

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else x.toString

  /** Print the info line and the result line; return the exit code. */
  def report(): Int = {
    val all = samples.values.flatten.toSeq
    val (tailV, tailPct) = Main.tail(all)
    val e2e = Map(
      "setup_s" -> (sessionSeconds + Main.median(setupReps.toSeq) + warmUpSeconds),
      "op_s_p50" -> Main.median(all),
      "ops_per_s" -> all.size / math.max(timedSeconds, 1e-9))
    val perKind = samples.map { case (k, xs) =>
      val (tv, tp) = Main.tail(xs.toSeq)
      s""""$k":{"n":${xs.size},"p50_s":${num(Main.median(xs.toSeq))},""" +
        s""""tail_s":${num(tv)},"tail_pct":${num(tp)},""" +
        s""""samples_s":${xs.map(num).mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    val rt = Runtime.getRuntime
    println(s"""{"info":{"workload":"${args.workload}","seed":$seed,""" +
      s""""trace":${args.trace},"cpus":$cpus,""" +
      s""""heap_mb":${rt.maxMemory / (1 << 20)},"spark":"${spark.version}",""" +
      s""""jdk":"${System.getProperty("java.version")}",""" +
      s""""session_s":${num(sessionSeconds)},""" +
      s""""setup_reps_s":${setupReps.map(num).mkString("[", ",", "]")},""" +
      s""""warm_up_s":${num(warmUpSeconds)},""" +
      s""""n_ops":${all.size},"op_s_tail":${num(tailV)},"tail_pct":${num(tailPct)},""" +
      s""""peak_rss_mb":${num(peakRssMb)},"ops":$perKind}}""")
    val metrics =
      if (args.trace) {
        val t = tracer.get
        t.finish()
        Layers.compute(this, t)
      } else Main.EndToEnd.map { case (n, u) => (n, u, e2e(n)) }
    if (args.spans.nonEmpty) tracer.foreach(_.dump(java.nio.file.Paths.get(args.spans)))
    val correct = failures.isEmpty && attempted > 0 && all.nonEmpty
    val body = metrics.map { case (n, u, v) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$body}""")
    if (correct) 0 else 1
  }
}
