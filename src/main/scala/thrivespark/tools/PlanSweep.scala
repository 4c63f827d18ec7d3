package thrivespark.tools

import org.apache.spark.sql.SparkSession

/** Plan sweep: dumps every registry key's formatted plan to
  * <outDir>/<key>.txt plus a one-line shape summary per key (exchange
  * count, join strategies, scan/codegen markers) in
  * <outDir>/_shape_summary.tsv. A refactor that must not change plans
  * shows an identical summary before and after.
  * Usage: tools/run.sh thrivespark.tools.PlanSweep <sfDir> <outDir> */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: PlanSweep <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    thrivespark.functions.Register(spark)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val summary = new StringBuilder("key\texchanges\tjoins\tnotes\n")
    thrivespark.Registry.queries.foreach { case (key, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$key.txt"), txt.getBytes("UTF-8"))
        val tree = txt.linesIterator.takeWhile(_.nonEmpty).mkString("\n")
        val ex = "(?m)\\bExchange\\b".r.findAllIn(tree).size
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
            "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
          .flatMap(j => { val n = ("\\b" + j + "\\b").r.findAllIn(tree).size
            if (n > 0) Some(s"$j×$n") else None }).mkString(",")
        val notes = Seq(
          if (tree.contains("REPARTITION_BY_NUM")) Some("pinned") else None,
          if (tree.contains("WindowGroupLimit")) Some("wgl") else None,
          if (txt.contains("PushedFilters: [")
              && !txt.contains("PushedFilters: []")) Some("pushed") else None)
          .flatten.mkString(",")
        summary.append(s"$key\t$ex\t$joins\t$notes\n")
      } catch { case e: Throwable =>
        summary.append(s"$key\tERR\t${e.getClass.getSimpleName}\t\n") }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "_shape_summary.tsv"),
      summary.toString.getBytes("UTF-8"))
    println(s"[explain] wrote ${outDir}/_shape_summary.tsv")
    spark.stop()
  }
}
