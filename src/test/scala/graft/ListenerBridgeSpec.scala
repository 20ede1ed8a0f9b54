package graft

import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class ListenerBridgeSpec extends SparkSpec {

  test("tryDrain reports a blocked listener bus instead of throwing") {
    val sc = spark.sparkContext
    val release = new CountDownLatch(1)
    val blocker = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        release.await(30, TimeUnit.SECONDS)
    }
    sc.addSparkListener(blocker)
    try {
      spark.range(1).count()
      assert(!ListenerBridge.tryDrain(sc, 50))
      // drain keeps throwing: perfbench's trace relies on it
      intercept[TimeoutException](ListenerBridge.drain(sc, 50))
      release.countDown()
      assert(ListenerBridge.tryDrain(sc, 10000))
    } finally {
      release.countDown()
      sc.removeSparkListener(blocker)
    }
  }
}
