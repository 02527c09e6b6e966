package graft

/** Dev-only: dump `.explain("formatted")` for named queries to files —
  * the optimization-round evidence trail (plans/r15/<query>_before.txt /
  * _after.txt). Runs under the bench session (Sessions.local), and
  * EXECUTES each query before dumping (ADVICE r14): an unexecuted
  * QueryExecution prints the static planner output
  * (isFinalPlan=false), while the before/after evidence the round
  * argues about — AQE partition coalescing, ReusedExchange, runtime
  * join rewrites — only appears in the final adaptive plan. Plans captured before r15 are static dumps; compare
  * like with like.
  *
  * Usage: sbt "runMain graft.Plans <outDir> <suffix> <query> [query...]"
  *   e.g. runMain graft.Plans plans/r15 before t35_textrank t36_quality_ngram
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(appName = "graft-plans")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      // run the SAME QueryExecution to its final adaptive plan (a noop
      // write would spawn a fresh one whose plan never executed)
      df.queryExecution.toRdd.count()
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt")
      java.nio.file.Files.writeString(p, txt)
      println(s"wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
