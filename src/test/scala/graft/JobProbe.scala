package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch per-job cost probe (optimization round 16). Not a spec — run
  * manually: sbt "Test/runMain graft.JobProbe q151,q159 [sfDir]".
  *
  * For each named query: one warmup noop run, then one timed noop run with
  * a listener recording every Spark job's wall time and first-stage call
  * site — so a query's cost decomposes into its eager stages (checkpoints,
  * collected dials, gate counts) plus the final action, without the UI. */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val prefixes = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Bench.session()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.CopyOnWriteArrayList[(Int, String, Double)]()
    var capture = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = if (capture) {
        val site = s.stageInfos.lastOption.map(_.name).getOrElse("?")
        starts.put(s.jobId, (site, System.nanoTime()))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = starts.remove(e.jobId)
        if (st != null)
          done.add((e.jobId, st._1, (System.nanoTime() - st._2) / 1e9))
      }
    })

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    queries.foreach { case (name, fn) =>
      // warmup (shared snapshots, JIT)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"$name warmup failed: ${e.getMessage}") }
      done.clear(); starts.clear()
      capture = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      capture = false
      Thread.sleep(300) // let late listener events drain
      println(f"\n===== $name total $total%.3f s, ${done.size()} jobs =====")
      import scala.jdk.CollectionConverters._
      done.asScala.toSeq.sortBy(-_._3).take(15).foreach { case (id, site, s) =>
        println(f"  $s%7.3f  job $id%3d  $site")
      }
    }
    spark.stop()
  }
}
