package org.apache.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's MemoryStore: run a DataFrame and report
  * each broadcast value the run created — the value's class and the
  * bytes the MemoryStore charges for it. Under a local master the
  * driver keeps every broadcast's deserialized value as one
  * `BroadcastBlockId(id, "")` block (its serialized pieces carry a
  * `pieceN` field and are not reported).
  */
object BroadcastAudit {
  final case class Value(cls: String, bytes: Long)

  def apply(df: => DataFrame): Seq[Value] = {
    val bm = SparkEnv.get.blockManager
    def values(): Seq[BroadcastBlockId] =
      bm.getMatchingBlockIds {
        case BroadcastBlockId(_, "") => true
        case _ => false
      }.collect { case b: BroadcastBlockId if bm.memoryStore.contains(b) => b }
    val before = values().toSet
    val frame = df
    frame.collect()
    // the executed plan holds the broadcasts; keep it reachable until
    // they are read so the ContextCleaner cannot drop them first
    val created = values().filterNot(before).sortBy(_.broadcastId).map { b =>
      val cls = bm.memoryStore.getValues(b)
        .map(_.next().getClass.getName).getOrElse("<serialized>")
      Value(cls, bm.memoryStore.getSize(b))
    }
    java.lang.ref.Reference.reachabilityFence(frame)
    created
  }
}
