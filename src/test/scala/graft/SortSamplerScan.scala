package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** r16 sweep tool: the range-partitioned presentation sort SAMPLES its
  * child to pick partition boundaries, so a sort sitting directly on an
  * un-materialized child subtree executes that subtree twice (sample pass
  * + shuffle pass — only work behind another exchange or a checkpointed
  * RDD is reused between the two). Walks every declared query's physical
  * plan and reports each `Exchange rangepartitioning` whose child subtree
  * reaches a leaf without crossing another exchange / ExistingRDD barrier,
  * with a rough weight of what gets recomputed (operator names on the
  * unprotected path). Review output by hand: cheap scan+project children
  * are fine; Generate / object-map / wide-expression children are the
  * q79-shape candidates.
  *
  * Usage: Test/runMain graft.SortSamplerScan [sfDir]
  */
object SortSamplerScan {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Bench.session()

    def strip(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    // operators below a range exchange that stop the recompute (their
    // output is reused between sample and shuffle passes)
    def isBarrier(p: SparkPlan): Boolean = p match {
      case _: ShuffleExchangeLike => true
      case _ => p.nodeName.contains("ExistingRDD") ||
        p.nodeName.contains("AQEShuffleRead") || p.nodeName.contains("ReusedExchange") ||
        p.nodeName.contains("BroadcastExchange") // broadcast is built once, reused
    }
    // collect operator names on every barrier-free path under a range exchange
    def unprotected(p: SparkPlan): Seq[String] =
      if (isBarrier(p)) Seq.empty
      else p.nodeName +: p.children.flatMap(c => unprotected(strip(c)))

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = strip(fn(spark, sfDir).queryExecution.executedPlan)
        val ranges = plan.collect {
          case e: ShuffleExchangeLike if e.toString.contains("rangepartitioning") => e
        }
        ranges.foreach { e =>
          val ops = unprotected(strip(e.child))
          // heavy markers: anything that is not a trivial scan/filter/project
          val heavy = ops.filterNot(n => Set("Project", "Filter", "Scan parquet",
            "ColumnarToRow", "InputAdapter", "WholeStageCodegen").exists(n.startsWith))
          if (ops.nonEmpty)
            println(s"[sortscan] $name unprotected=${ops.size} " +
              s"heavy=[${heavy.distinct.mkString(",")}] ops=[${ops.distinct.mkString(",")}]")
        }
      } catch { case e: Throwable =>
        println(s"[sortscan] $name FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    spark.stop()
  }
}
