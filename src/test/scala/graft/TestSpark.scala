package graft

import org.apache.spark.sql.SparkSession

/** one shared local session for all suites (sbt forks a single test JVM),
  * in the library's own shape ([[GraftSession.builder]]) */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-tests", Some("local[4]"), shufflePartitions = 4)
      .config("spark.ui.enabled", "false")
      // fresh warehouse per JVM: saveAsTable would trip over files left by
      // a previous run (catalog is in-memory, the warehouse dir is not)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"
}
