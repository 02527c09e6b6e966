package graft

/** Dev-only smoke probe: runs entry() and the capture queries with codegen
  * fallback disabled, proving TryCapture's generated code compiles (no
  * silent interpreted fallback). Usage: sbt "runMain graft.Probe".
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(appName = "graft-probe")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    println("ENTRY_ROWS=" + SparkEntry.entry(spark).count())
    val dir = if (args.nonEmpty && !args(0).startsWith("explain:")) args(0)
      else "/root/testdata/sf0.001"
    args.filter(_.startsWith("explain:")).map(_.stripPrefix("explain:")).foreach { q =>
      println(s"==== EXPLAIN $q")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    // every query must survive CODEGEN_ONLY (no silent interpreted fallback)
    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case t: Throwable => bad += 1; println(s"CODEGEN_FAIL $name: $t") }
    }
    println(s"CODEGEN_ONLY_FAILURES=$bad")
    SparkEntry.queries("e4_dead_letters")(spark, dir).show(3, 60, vertical = false)
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
