package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit helper: print the formatted physical plan of named
  * SparkEntry queries (all of them with no names given). Usage:
  *
  *   sbt "runMain graft.Explain <sfDir> [query...]"
  *
  * The per-operator iteration loop the engine is built around —
  * check PushedFilters, WholeStageCodegen spans, join strategies and
  * exchange placement before trusting a plan at scale.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only: Set[String] = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
