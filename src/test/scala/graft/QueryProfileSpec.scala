package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum

/** The measurement core of the batch surface: [[QueryProfile]]'s two plan
  * rules and its per-query line, and [[Bench.ProbeLedger]]'s record. */
class QueryProfileSpec extends SparkSpec {

  private def plan(df: DataFrame) = QueryProfile.nodes(df.queryExecution.executedPlan)

  test("the duplicate-subtree rule flags an aggregate computed twice, not once") {
    val agg = spark.range(1000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").agg(sum("v"))
    assert(QueryProfile.dupSubtrees(plan(agg)).isEmpty)
    val dups = QueryProfile.dupSubtrees(plan(agg.union(agg)))
    assert(dups.size == 1, s"expected one maximal duplicate: $dups")
    assert(dups.head.copies == 2 && dups.head.plan.startsWith("HashAggregate"))
  }

  test("the sort-sampler rule flags a sort over an explode, not one behind a repartition") {
    val exploded = spark.range(100).selectExpr("explode(array(id, id + 1)) AS x")
    val samplers = QueryProfile.sortSamplers(plan(exploded.orderBy("x")))
    assert(samplers.size == 1 && samplers.head.heavy.contains("Generate"), samplers)
    assert(QueryProfile.sortSamplers(plan(exploded.repartition(3).orderBy("x"))).isEmpty)
  }

  test("end-to-end: one parseable line per query, with all its jobs; a failure only in error") {
    val failing: Bench.Query = (s, _) => s.range(3).selectExpr("raise_error('boom') AS x")
    // a checkpoint on a pool thread that exists before the profile begins
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    Await.result(Future(()), 1.minute)
    val inFuture: Bench.Query = (s, _) => Await.result(Future(s.range(100).toDF().localCheckpoint()), 1.minute)
    // a listener that lags the bus: the profile must still see every job
    val lag = new SparkListener { override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(100) }
    spark.sparkContext.addSparkListener(lag)
    val lines = try (Bench.selected(Seq("q01", "q02")) ++ Seq("q_future" -> inFuture, "q_fail" -> failing)).map {
      case (name, query) => new ObjectMapper().readTree(
        QueryProfile.profile(spark, "/root/testdata/sf0.001", name, query))
    } finally { spark.sparkContext.removeSparkListener(lag); pool.shutdown() }
    assert(lines.map(_.get("query").asText) == Seq("q01_fraud_filter", "q02_top10_by_user", "q_future", "q_fail"))
    lines.init.foreach { n =>
      assert(n.get("metric").asText == "profile" && n.get("error").isNull, n)
      assert(n.get("seconds").asDouble > 0.0)
      val jobs = n.get("jobs").elements().asScala.toSeq
      assert(jobs.nonEmpty && n.get("njobs").asInt == jobs.size)
      assert(jobs.forall(j => j.get("seconds").asDouble >= 0.0 && j.get("site").asText.nonEmpty))
      // AQE stage jobs name their query's action, not the pool thread's frame
      assert(!jobs.exists(_.get("site").asText.contains("CompletableFuture")), n)
      assert(jobs.last.get("site").asText.startsWith("save at"), "the final noop action's job")
    }
    assert(lines(2).get("jobs").toString.contains("localCheckpoint at QueryProfileSpec.scala"), lines(2))
    assert(lines.last.get("error").asText.contains("boom"))
    assert(lines.last.get("seconds").isNull && lines.last.get("njobs").asInt == 0)
  }

  test("a probe ledger records one raw pair per point and folds each point at once") {
    val ledger = new Bench.ProbeLedger(spark, 10000L)
    val points = Seq.fill(3)(ledger.point())
    assert(ledger.raw.size == 3 && ledger.raw.forall(_.size == 2))
    assert(points == ledger.raw.map(_.min))
    assert(ledger.quiet == Bench.foldQuiet(ledger.cal0, ledger.raw.map(_.min)))
  }
}
