package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.Bench.{fmt, jsonSafe}

/** Where a query's time goes and which plan shapes compute work twice:
  * one `metric=profile` JSON line per selected query ([[profile]]).
  *
  * Usage: `sbt "runMain graft.QueryProfile [prefix,...]"` (default: every
  * query), scale factor from SPARK_GRAFT_SF_DIR. */
object QueryProfile {

  /** `copies` instances of a subtree of `nodes` operators, root line `plan`. */
  final case class Dup(copies: Int, nodes: Int, plan: String)

  /** The operators a range exchange's sampling pass recomputes; `heavy`
    * are those beyond a scan/filter/project chain. */
  final case class Sampler(ops: Seq[String]) {
    def heavy: Seq[String] = ops.distinct.filterNot(n => Seq("Project", "Filter",
      "Scan parquet", "ColumnarToRow", "InputAdapter", "WholeStageCodegen").exists(n.startsWith))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, spark) = (Bench.sfDirFromEnv(), Bench.session())
    Bench.selected(Bench.prefixes(args)).foreach { case (n, q) => println(profile(spark, sfDir, n, q)) }
    spark.stop()
  }

  /** One query's line: the query is built, its AQE initial plan walked
    * for [[dupSubtrees]] and [[sortSamplers]], and that build run untimed
    * (the warm-up); then one timed run lists its Spark `jobs` (wall seconds
    * and call site), so eager stages (checkpoints, collected dials, gate
    * counts) show apart from the final action. A failure lands in `error`,
    * with `"seconds":null` and no jobs. */
  def profile(spark: SparkSession, sfDir: String, name: String, query: Bench.Query): String = {
    def str(s: String): String = "\"" + jsonSafe(s) + "\""
    def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
    val (run, dups, samplers) =
      try {
        val df = query(spark, sfDir)
        val plan = nodes(df.queryExecution.executedPlan)
        Bench.noop(df)
        (timedJobs(spark, sfDir, query), dupSubtrees(plan), sortSamplers(plan))
      } catch { case e: Throwable => (Left(Bench.errMsg(e)), Nil, Nil) }
    val (seconds, jobs, error) =
      run.fold(e => ("null", Nil, str(e)), { case (s, js) => (fmt(s), js, "null") })
    s"""{"metric":"profile","query":${str(name)},"seconds":$seconds,""" +
      s""""njobs":${jobs.size},"jobs":${arr(jobs)},"dup_subtrees":${arr(dups.map(d =>
        s"""{"copies":${d.copies},"nodes":${d.nodes},"plan":${str(d.plan)}}"""))},""" +
      s""""sort_samplers":${arr(samplers.map(s =>
        s"""{"unprotected":${s.ops.size},"heavy":${arr(s.heavy.map(str))},""" +
          s""""ops":${arr(s.ops.distinct.map(str))}}"""))},"error":$error,"sf":${str(sfDir)}}"""
  }

  /** The AQE root's initial plan, before any stage runs. */
  private def strip(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case other => other
  }

  /** Every node in pre-order, subqueries included, AQE roots stripped. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val p = strip(plan)
    p +: (p.children ++ p.innerChildren.collect { case c: SparkPlan => c }).flatMap(nodes)
  }

  private def isExchange(p: SparkPlan): Boolean =
    p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[BroadcastExchangeLike]

  /** Duplicate subtrees among a plan's [[nodes]]: identical exchanges are
    * reused at runtime, but an identical non-exchange subtree executes once
    * per consumer (OPTIMIZATION_r16 entries 7, 10, 11, 15–17). Flagged when
    * it has ≥ 2 instances outside every reused exchange, is not itself an
    * exchange, holds real work (re-scanning pruned parquet twice is
    * usually cheaper than a barrier), and is maximal. */
  def dupSubtrees(plan: Seq[SparkPlan]): Seq[Dup] = {
    // canonical form: the expression-id-free string of the whole subtree
    def canon(p: SparkPlan): String = p.canonicalized.toString
    val groups = plan.groupBy(canon)
    val shielded = plan.filter(p => isExchange(p) && groups(canon(p)).size >= 2)
      .flatMap(nodes).toSet
    def realWork(p: SparkPlan): Boolean = Seq("Generate", "MapPartitions", "HashAggregate",
      "SortAggregate", "Join", "Window", "MapElements").exists(p.toString.contains)
    val dups = groups.filter { case (_, ns) =>
      ns.count(!shielded(_)) >= 2 && !isExchange(ns.head) && realWork(ns.head)
    }
    dups.collect { case (c, ns) if !dups.keys.exists(o => o != c && o.contains(c)) =>
      Dup(ns.size, ns.head.collect { case n => n }.size,
        ns.head.toString.linesIterator.next().take(140))
    }.toSeq.sortBy(_.plan)
  }

  /** Unprotected sort samplers among a plan's [[nodes]]: a range exchange
    * samples its child for partition bounds, so a child path that reaches
    * a leaf without crossing an exchange or existing-RDD barrier executes
    * twice. Cheap scan/filter/project children are fine; Generate or
    * object-map children are the q79-shape candidates. */
  def sortSamplers(plan: Seq[SparkPlan]): Seq[Sampler] = {
    // their output is reused between the sample and the shuffle pass
    def barrier(p: SparkPlan): Boolean =
      isExchange(p) || Seq("ExistingRDD", "AQEShuffleRead", "ReusedExchange").exists(p.nodeName.contains)
    def unprotected(p: SparkPlan): Seq[String] =
      if (barrier(p)) Nil else p.nodeName +: p.children.flatMap(c => unprotected(strip(c)))
    plan.collect {
      case e: ShuffleExchangeLike if e.toString.contains("rangepartitioning") =>
        Sampler(unprotected(strip(e.child)))
    }.filter(_.ops.nonEmpty)
  }

  /** [[Bench.timed]] between two marker jobs: the seconds and every job
    * whose id lies between the markers' (JSON, id order, wall seconds from
    * the scheduler's events), or the error. Job ids are handed out at
    * submission and this main runs one thing at a time, so the bracket
    * holds exactly the run's jobs, those a query submits from its own
    * threads (a `Future`'s checkpoint) included. A job's site is its SQL
    * execution's description when it has one: AQE submits stage jobs from
    * a pool thread, whose own call site is the pool's frame. */
  private def timedJobs(spark: SparkSession, sfDir: String,
                        query: Bench.Query): Either[String, (Double, Seq[String])] = {
    val sc = spark.sparkContext
    val events = new LinkedBlockingQueue[SparkListenerEvent]()
    val log = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = events.put(s)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = events.put(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => events.put(x)
        case _ =>
      }
    }
    def marker(): Int = {
      val job = sc.parallelize(Seq(0), 1).foreachAsync(_ => ())
      job.get()
      job.jobIds.head
    }
    sc.addSparkListener(log)
    try {
      val first = marker()
      val run = Bench.timed(spark, sfDir, query)
      val last = marker()
      // The listener bus delivers events in the order they were posted,
      // and a job's end is posted before its action returns: once the
      // closing marker's end arrives, so has every event of the timed run.
      val seen = Iterator.continually(Option(events.poll(1, TimeUnit.MINUTES)).getOrElse(
          throw new IllegalStateException(s"job $last's end never arrived")))
        .takeWhile { case e: SparkListenerJobEnd => e.jobId != last; case _ => true }.toVector
      val started = seen.collect { case s: SparkListenerJobStart if s.jobId > first => s.jobId -> s }.toMap
      val executions = seen.collect { case x: SparkListenerSQLExecutionStart => x.executionId -> x.description }.toMap
      def site(s: SparkListenerJobStart): String =
        Option(s.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => executions.get(id.toLong))
          .getOrElse(s.stageInfos.lastOption.fold("?")(_.name))
      run.map(_ -> seen.collect { case e: SparkListenerJobEnd if started.contains(e.jobId) => e }
        .sortBy(_.jobId).map { e =>
          val s = started(e.jobId)
          s"""{"id":${e.jobId},"seconds":${fmt((e.time - s.time) / 1e3)},""" +
            s""""site":"${jsonSafe(site(s))}"}"""
        })
    } finally sc.removeSparkListener(log)
  }
}
