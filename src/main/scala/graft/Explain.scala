package graft

/** Dev tool: print formatted physical plans for selected queries, to review
  * pushdown / broadcast / codegen / shuffle shape.
  *
  * Usage: runMain graft.Explain <sfDir> [queryPrefix,...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Bench.session()
    Bench.selected(Bench.prefixes(args, at = 1)).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
