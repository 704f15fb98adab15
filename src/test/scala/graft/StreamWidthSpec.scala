package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.streaming.StreamDedup

/** The staged streaming twins size their state width (the cloned
  * session's shuffle partitions, hence state stores per micro-batch)
  * to their staged input: ceil(input bytes / the caller's advisory
  * partition size), clamped to [1, the caller's shuffle width]. The
  * width is a size-gated choice, so results must not depend on it:
  * every streaming twin runs at the derived width (1 at test scale)
  * and again with a few-KB advisory size that drives the width above 1. */
class StreamWidthSpec extends SparkSpec {

  private val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  test("stateWidth: ceil(input / advisory) clamped to [1, cap]") {
    val adv = 64L << 20
    assert(StreamDedup.stateWidth(0L, adv, 8) == 1)
    assert(StreamDedup.stateWidth(adv / 2, adv, 8) == 1)
    assert(StreamDedup.stateWidth(adv, adv, 8) == 1)
    assert(StreamDedup.stateWidth(adv + 1, adv, 8) == 2)
    assert(StreamDedup.stateWidth(3 * adv, adv, 8) == 3)
    assert(StreamDedup.stateWidth(8 * adv, adv, 8) == 8)
    assert(StreamDedup.stateWidth(100 * adv, adv, 8) == 8)
    assert(StreamDedup.stateWidth(Long.MaxValue, 1L, 4) == 4)
  }

  /** State-operator widths seen in streaming progress events. The
    * twins run in cloned sessions, whose query listeners the test
    * cannot reach, so the widths are read off the shared listener bus. */
  private object Widths extends SparkListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent =>
        p.progress.stateOperators.foreach(op => seen.add(op.numShufflePartitions))
      case _ =>
    }
  }

  /** Every streaming twin in the inventory. */
  private val keys = SparkEntry.queries.keys.toSeq.sorted
    .filter(k => k.startsWith("stream_") || k.endsWith("_stream"))

  /** Every key's rows, order-blind, plus the state widths its runs used. */
  private def runAll(): (Map[String, Seq[String]], Set[Long]) = {
    spark.sparkContext.addSparkListener(Widths)
    try {
      val out = keys.map { k =>
        k -> SparkEntry.queries(k)(spark, sf).collect().toSeq.map(_.toString).sorted
      }.toMap
      // progress events reach the listener bus asynchronously
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (Widths.seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      (out, Widths.seen.asScala.toSet)
    } finally {
      spark.sparkContext.removeSparkListener(Widths)
      Widths.seen.clear()
    }
  }

  test("staged twins give identical results at width 1 and at a width above 1") {
    val (derived, derivedWidths) = runAll()
    assert(derivedWidths == Set(1L), "test-scale inputs derive one state store")
    spark.conf.set(advisoryKey, "2k")
    val (wide, wideWidths) =
      try runAll()
      finally spark.conf.unset(advisoryKey)
    assert(wideWidths.exists(_ > 1L), s"widths $wideWidths")
    assert(wideWidths.forall(_ <= spark.sessionState.conf.numShufflePartitions))
    val empty = keys.filter(derived(_).isEmpty)
    assert(empty.isEmpty, s"returned no rows: $empty")
    val differ = keys.filter(k => derived(k) != wide(k))
    assert(differ.isEmpty, s"differ between state widths: $differ")
  }
}
