package graft

import graft.api.GraftSession

/** Plan-inspection utility: prints the formatted physical plan for the
  * given queries (all queries if none named). Used to audit pushdown,
  * pruning, broadcast choices, and codegen spans per SURVEY §5.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // r22: honor the driver's core-count knob so captured plans show the
    // TARGET box's partitioning (r21 plans were local[4] and their
    // RoundRobinPartitioning(4) understated the 32-core exchange width)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.create(s"local[$cpus]", "graft-explain", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
