package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** r19 (VERDICT r18 #7): pins that the PRODUCTION plan of an answer-mass
  * query really carries the eager checkpoint — i.e. the final sort reads
  * a materialized `Scan ExistingRDD`, not the recomputable pipeline.
  * ExplainAuditSpec runs wholly under Answer.planAuditBypass (it grades
  * the working pipeline), so without this spec a silent revert of
  * Answer.sorted to the double-computing orderBy would pass every test.
  * It covers one query per Answer.sorted caller family: the brand-blocked
  * Levenshtein verify (q19), the LSH-fronted match score (q22) and the
  * simhash dedup (q33).
  */
class AnswerCheckpointSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** Every node of the plan, descending into adaptive wrappers, query
    * stages and subquery plans as well as children. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val expanded = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case s: QueryStageExec => s.plan
      case other => other
    }
    expanded +: (expanded.children ++ expanded.subqueries).flatMap(allNodes)
  }

  for ((short, query) <- Seq("q19" -> "q19_levenshtein",
      "q22" -> "q22_lsh_match_score", "q33" -> "q33_dedup_simhash")) {
    test(s"production $short final sort scans the checkpointed answer (ExistingRDD)") {
      assert(!graft.operators.Answer.planAuditBypass,
        "spec must observe the production path")
      // constructing the query executes the pipeline (the checkpoint is
      // eager by design); sf0.001 keeps that cheap
      val df = SparkEntry.queries(query)(spark, dir)
      val nodes = allNodes(df.queryExecution.executedPlan)
      val finalSort = nodes.collectFirst { case s: SortExec => s }
      assert(finalSort.isDefined, s"$query: final sort missing")
      // the sort's ONLY input is the checkpoint: a pipeline that merely
      // contains some other checkpoint (q22's banded signatures) is not
      // enough
      val sortLeaves = allNodes(finalSort.get).filter(_.children.isEmpty)
      assert(sortLeaves.size == 1 && sortLeaves.head.isInstanceOf[RDDScanExec],
        s"$query: expected the final sort to read the eager localCheckpoint " +
          "(Scan ExistingRDD) — Answer.sorted may have silently reverted " +
          "to the double-computing plain orderBy; sort leaves: " +
          sortLeaves.map(_.nodeName).mkString(", "))
      // and the checkpoint truncated the lineage: no file scan survives
      // in the as-constructed plan
      assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
        s"$query: as-constructed plan still contains the full pipeline above the sort")
    }
  }
}
