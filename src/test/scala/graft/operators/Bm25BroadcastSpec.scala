package graft.operators

import graft.SparkTestBase
import graft.config.Tuning
import org.apache.spark.BroadcastAudit
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** q85 pins no broadcast hash relation. A string-keyed broadcast hash
  * join backs even a 4-row build side with a whole Tungsten page
  * (`MemoryManager.pageSizeBytes`), so q85 reads each term's df from
  * the one-row stats broadcast instead, and still broadcasts that row.
  */
class Bm25BroadcastSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  private val sf = "/root/testdata/sf0.001"

  private def hashed(audit: Seq[BroadcastAudit.Value]) =
    audit.filter(_.cls.contains("HashedRelation"))

  test("q85 creates no hashed relation; its final plan has no broadcast hash join") {
    val q85 = new graft.QRegistry(Tuning.current)
      .queries("q85_bm25_search")(spark, sf)
    val audit = BroadcastAudit(q85)
    assert(audit.exists(_.cls.contains("InternalRow")), audit)
    assert(hashed(audit).isEmpty, audit)
    assert(collect(q85.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.isEmpty)
  }
}
