package graft.osm

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** The physical shape of one conversion, pinned on [[SemanticsFixture]]:
  * how many sort-merge joins, exchanges and persisted cuts an unfiltered
  * `featuresWithCuts` plans, and that releasing its cuts plans nothing. */
class ConversionPlanSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val path = { spark; SemanticsFixture.write() }

  /** (SortMergeJoin, Exchange, InMemoryRelation) counts of `plan`, entering
    * each cached plan once however often the plan scans it. */
  private def census(plan: SparkPlan): (Int, Int, Int) = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    var (smj, exchanges, cuts) = (0, 0, 0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case s: InMemoryTableScanExec =>
          if (seen.add(s.relation.cacheBuilder)) {
            cuts += 1
            walk(s.relation.cachedPlan)
          }
        case _: SortMergeJoinExec => smj += 1
        case _: Exchange => exchanges += 1
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(plan)
    (smj, exchanges, cuts)
  }

  test("an unfiltered conversion plans 4 sort-merge joins, 7 exchanges " +
      "and 4 cuts") {
    val (df, cuts) = OsmPipeline.featuresWithCuts(spark, Seq(path))
    try assert(census(df.queryExecution.executedPlan) == (4, 7, 4))
    finally cuts.release()
  }

  test("releasing an unconsumed conversion's cuts plans nothing") {
    val (df, cuts) = OsmPipeline.featuresWithCuts(spark, Seq(path))
    val plannings = new AtomicInteger()
    val counter = new SparkStrategy {
      def apply(plan: LogicalPlan): Seq[SparkPlan] = {
        plannings.incrementAndGet()
        Nil
      }
    }
    val conv = df.sparkSession
    conv.experimental.extraStrategies = Seq(counter)
    try {
      cuts.release()
      assert(plannings.get == 0)
      // the counter does see a planning
      conv.range(1).queryExecution.executedPlan
      assert(plannings.get > 0)
    } finally conv.experimental.extraStrategies = Nil
  }
}
