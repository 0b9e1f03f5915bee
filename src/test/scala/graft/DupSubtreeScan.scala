package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** r16 sweep tool #2: duplicate-subtree detector. Within one physical
  * plan, identical subtrees rooted at an Exchange are REUSED at runtime
  * (ReusedExchange / broadcast reuse), but identical non-exchange
  * subtrees execute once per consumer — the union-branch / multi-consumer
  * double-compute class (OPTIMIZATION_r16 entries 7, 10, 11, 15–17 fixed
  * the instances found by hand; this walks all 229 plans). Flags any
  * subtree that (a) appears ≥ 2 times in a plan, (b) is not rooted at an
  * exchange (those reuse), (c) is not a bare scan/filter/project chain
  * (re-scanning pruned parquet twice is usually cheaper than a barrier),
  * and (d) is maximal (its parent is not itself a flagged duplicate).
  *
  * Usage: Test/runMain graft.DupSubtreeScan [sfDir]
  */
object DupSubtreeScan {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Bench.session()

    def strip(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case o => o
    }
    // canonical form: expression-id-free string of the whole subtree
    def canon(p: SparkPlan): String =
      p.canonicalized.toString
    def isExchange(p: SparkPlan): Boolean =
      p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[BroadcastExchangeLike]
    def interesting(p: SparkPlan): Boolean = {
      val s = p.toString
      // must contain some real work, not just scan+filter+project
      Seq("Generate", "MapPartitions", "HashAggregate", "SortAggregate",
        "Join", "Window", "MapElements").exists(s.contains)
    }

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val root = strip(fn(spark, sfDir).queryExecution.executedPlan)
        // collect all (canon, node) pairs
        // groups: canon -> instances; reusedUnder: instances that sit below
        // an exchange whose WHOLE subtree is duplicated (runtime reuses the
        // exchange, so the inner duplication never executes twice)
        val groups = new scala.collection.mutable.HashMap[String, List[SparkPlan]]()
        val exchangeCanons = new scala.collection.mutable.HashMap[String, Int]()
        def collectEx(p: SparkPlan): Unit = {
          if (isExchange(p))
            exchangeCanons(canon(p)) = exchangeCanons.getOrElse(canon(p), 0) + 1
          p.children.foreach(c0 => collectEx(strip(c0)))
          p.innerChildren.collect { case sp: SparkPlan => collectEx(strip(sp)) }
        }
        collectEx(root)
        val reusedEx = exchangeCanons.filter(_._2 >= 2).keySet
        val shielded = new scala.collection.mutable.HashSet[SparkPlan]()
        def walk(p: SparkPlan, underReused: Boolean): Unit = {
          val c = canon(p)
          val nowReused = underReused || (isExchange(p) && reusedEx.contains(c))
          groups(c) = p :: groups.getOrElse(c, Nil)
          if (nowReused) shielded += p
          p.children.foreach(c0 => walk(strip(c0), nowReused))
          p.innerChildren.collect { case sp: SparkPlan => walk(strip(sp), nowReused) }
        }
        walk(root, underReused = false)
        val dupCanons = groups.filter { case (_, ns) =>
          // ≥ 2 UNSHIELDED instances actually execute independently
          ns.count(n => !shielded.contains(n)) >= 2 &&
            !isExchange(ns.head) && interesting(ns.head)
        }.keySet
        // maximality: drop canons whose every instance sits under another
        // duplicated non-exchange subtree (report the outermost only)
        def maximal(c: String): Boolean = {
          val node = groups(c).head
          // find if node's canon is a strict substring of another dup canon
          !dupCanons.exists(other => other != c && other.contains(c))
        }
        dupCanons.filter(maximal).foreach { c =>
          val n = groups(c).size
          val head = groups(c).head
          val depth = head.collect { case x => x }.size
          println(s"[dupscan] $name x$n nodes=$depth root=${head.nodeName} :: " +
            head.toString.linesIterator.take(1).mkString.take(140))
        }
      } catch { case e: Throwable =>
        println(s"[dupscan] $name FAILED ${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
