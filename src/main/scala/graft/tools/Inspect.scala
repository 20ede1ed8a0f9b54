package graft.tools

import graft.SparkEntry
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Per-query inspection of declared queries under Bench's session:
  * `sbt "runMain graft.tools.Inspect <time|profile|explain> q… [--sf=DIR]"`.
  *
  *  - `time`: one warm-up, then best-of-3 count and best-of-3 noop —
  *    Bench's protocol, for like-for-like A/B against a Bench record
  *    without the full sweep.
  *  - `profile`: one warm-up, then one noop run under a SparkListener;
  *    prints one line per Spark job (wall time, callsite | stage names)
  *    and a totals line (jobs, stages, tasks, shuffle read/write bytes,
  *    disk spill bytes) — the evidence for iterative or multi-job
  *    queries whose final plan is just a checkpoint scan.
  *  - `explain`: the formatted physical plan.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--sf="))
    val dir = flags.lastOption.map(_.stripPrefix("--sf="))
      .getOrElse("/root/testdata/sf0.1")
    val queries = SparkEntry.queries
    val mode = rest.headOption.getOrElse("")
    val names = rest.drop(1).toSeq
    val unknown = names.filterNot(queries.contains)
    if (!Set("time", "profile", "explain")(mode) || names.isEmpty ||
        unknown.nonEmpty) {
      if (unknown.nonEmpty)
        System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      System.err.println(
        "usage: Inspect <time|profile|explain> <query>... [--sf=DIR]")
      sys.exit(2)
    }
    val spark = SparkEntry.session(SparkEntry.cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      def df = queries(name)(spark, dir)
      mode match {
        case "time" =>
          df.count()
          def bestOf3(action: DataFrame => Unit): Seq[Double] =
            (1 to 3).map { _ =>
              val t0 = System.nanoTime()
              action(df)
              (System.nanoTime() - t0) / 1e9
            }
          val counts = bestOf3(_.count(): Unit)
          val noops = bestOf3(noop)
          def all(ts: Seq[Double]) = ts.map(t => f"$t%.3f").mkString(",")
          println(f"$name%-28s count_best=${counts.min}%6.3f " +
            f"noop_best=${noops.min}%6.3f  count=${all(counts)} noop=${all(noops)}")
        case "profile" =>
          noop(df)
          val p = new Profile
          spark.sparkContext.addSparkListener(p)
          val t0 = System.nanoTime()
          noop(df)
          val secs = (System.nanoTime() - t0) / 1e9
          val drained = ListenerBridge.tryDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(p)
          if (drained) p.report(name, secs)
          else System.err.println(s"[inspect] WARN $name: listener bus " +
            "not drained within 30 s; profile skipped")
        case "explain" =>
          df.explain("formatted")
      }
    }
    spark.stop()
  }

  /** Jobs, stages, tasks, shuffle and spill seen while attached. Retried
    * stages report per attempt, so bytes can overcount under task
    * retries — absent on a healthy local run.
    */
  private final class Profile extends SparkListener {
    private val starts = mutable.Map[Int, (Long, String)]()
    private val jobs = mutable.ArrayBuffer[(Int, Double, String)]()
    private var stages, tasks = 0
    private var shuffleRead, shuffleWrite, spill = 0L

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val site = Option(j.properties).map { p =>
        val d = p.getProperty("spark.job.description", "")
        if (d.nonEmpty) d else p.getProperty("callSite.short", "")
      }.getOrElse("")
      val stageNames = j.stageInfos.map(_.name).distinct.mkString(";")
      starts(j.jobId) =
        (j.time, Seq(site, stageNames).filter(_.nonEmpty).mkString(" | "))
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      starts.remove(j.jobId).foreach { case (t0, d) =>
        jobs += ((j.jobId, (j.time - t0) / 1e3,
          d.replaceAll("\\s+", " ").take(200)))
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        tasks += s.stageInfo.numTasks
        val m = s.stageInfo.taskMetrics
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
      }

    def report(name: String, secs: Double): Unit = synchronized {
      jobs.sortBy(_._1).foreach { case (id, s, d) =>
        println(f"  job $id%4d $s%8.3f s  $d")
      }
      println(f"$name%-28s secs=$secs%7.3f jobs=${jobs.size}%4d " +
        f"stages=$stages%4d tasks=$tasks%5d shuffle_read=$shuffleRead%10d " +
        f"shuffle_write=$shuffleWrite%10d spill=$spill%d")
    }
  }
}
