package graft.tools

import graft.SparkEntry
import graft.streaming.StatefulSessionize
import graft.streaming.StatefulSessionize.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Runnable example: stateful streaming sessionization
  * (`flatMapGroupsWithState`) over a memory stream.
  * `sbt "runMain graft.tools.StreamDemo"`.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(SparkEntry.cpus)
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val M = 60L * 1000000
    val source = MemoryStream[Event]
    val query = StatefulSessionize.sessions(source.toDS(), gapUs = 30 * M)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()

    def show(label: String): Unit = {
      println(s"--- $label ---")
      spark.table("sessions").orderBy("user_id", "session_seq")
        .show(truncate = false)
    }

    source.addData(Event(1, 10, 0 * M, 1.0), Event(1, 11, 5 * M, 2.0),
      Event(2, 20, 0 * M, 5.0))
    query.processAllAvailable()
    show("batch 0: all sessions still open, nothing emitted")

    source.addData(Event(1, 12, 95 * M, 3.0), Event(2, 21, 200 * M, 9.0))
    query.processAllAvailable()
    show("batch 1: 90/200-min gaps close both first sessions")

    query.stop()
    spark.stop()
  }
}
