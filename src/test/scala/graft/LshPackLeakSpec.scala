// In Spark's package namespace for read access to the driver's block
// manager: a live broadcast is visible there and nowhere public.
package org.apache.spark.graftcheck

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.storage.{BlockId, BroadcastBlockId}

import graft.operators.{Dedup, Similarity}

/** `lshMultiTopK` packs its tables concurrently on a pool, one
  * broadcast per table. When one pack throws, the packs that did
  * broadcast must still reach the caller thread's transient registry,
  * so the caller's drain destroys them instead of leaving them to the
  * GC. The failure is injected with a user optimizer rule that lets
  * the first pack plan and fails every other pack's planning. */
class LshPackLeakSpec extends graft.SparkSpec {

  /** Broadcast values on the driver that are packed LSH tables. */
  private def livePacks(): Seq[BlockId] = {
    val bm = spark.sparkContext.env.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.filter { id =>
      scala.util.Try(bm.memoryStore.getValues(id)).toOption.flatten
        .exists(it => it.hasNext && it.next().getClass.getName.endsWith("PackedTable"))
    }
  }

  test("a throwing LSH pack leaves no pack broadcast after the caller's drain") {
    val winner = new AtomicReference[Thread]()
    val failOtherPacks = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val t = Thread.currentThread()
        if (t.getStackTrace.exists(_.getMethodName.contains("packOneTable")) &&
            !winner.compareAndSet(null, t) && (winner.get ne t))
          throw new IllegalStateException("injected pack failure")
        plan
      }
    }
    // packs an earlier suite left live are not this call's: only the
    // ones the call adds are checked
    val before = livePacks().toSet
    def added(): Seq[BlockId] = livePacks().filterNot(before)
    spark.experimental.extraOptimizations = Seq(failOtherPacks)
    val e =
      try intercept[Exception](Similarity.lshMultiTopK(spark, sf))
      finally spark.experimental.extraOptimizations = Nil
    assert(winner.get != null, s"no pack was planned: $e")
    // the winning pack's pool thread exits once its broadcast is made
    // and the pool is shut down, so a leak cannot hide behind a
    // pack still running when the operator threw
    winner.get.join(60000L)
    assert(!winner.get.isAlive)
    assert(added().nonEmpty, "the winning pack broadcast its table")
    Dedup.releaseTransientBlocks()
    // Broadcast.destroy() removes the blocks asynchronously
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (added().nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(added().isEmpty)
  }
}
