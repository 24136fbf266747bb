package graft

import scala.util.control.NonFatal

/** Dev tool: print the formatted physical plan of every declared query
  * whose key contains any of the given substrings (every key when none
  * are given) — the `.explain("formatted")` loop the build methodology
  * calls for. Nothing executes unless the operator itself runs jobs at
  * build time (index builds, label propagation). Not part of the library
  * surface.
  *
  * Usage: runMain graft.Explain <sfDir> [keySubstring ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, filters) = args.toSeq match {
      case Seq(dir, rest @ _*) => (dir, rest)
      case _ => sys.error("usage: Explain <sfDir> [keySubstring ...]")
    }
    val spark = GraftSession.local(GraftSession.envCores)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filters.isEmpty || filters.exists(name.contains) }
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case NonFatal(e) => println(s"[explain] failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
