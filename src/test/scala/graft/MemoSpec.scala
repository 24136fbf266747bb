package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The one memo policy every derived-artifact cache goes through: an
  * input rewrite rebuilds and releases the superseded value, and
  * `Memo.clearAll()` releases every kind of value the memos hold. */
class MemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeInput(dir: String, n: Int): Unit =
    spark.range(n).toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")

  test("a fingerprint change rebuilds and releases the old value") {
    val in = tempDir("memo_in")
    writeInput(in, 10)
    val memo = Memo[(String, String), String](util.deleteRecursively)
    var builds = 0
    def index(): String =
      memo.get((in, "v"), util.inputFingerprint(in, "t.parquet")) {
        builds += 1
        Memo.tempDir("memo_idx")(p => Files.writeString(Paths.get(p, "x"), "x"))
      }
    val first = index()
    assert(index() === first, "an unchanged input must be served from the memo")
    assert(builds === 1)

    writeInput(in, 20) // rewrite: new part files, new fingerprint
    val second = index()
    assert(second !== first)
    assert(builds === 2)
    assert(!Files.exists(Paths.get(first)), "the superseded dir must be deleted")
    assert(Files.exists(Paths.get(second)))
    assert(memo.size === 1)
    memo.clear()
    assert(!Files.exists(Paths.get(second)))
    util.deleteRecursively(in)
  }

  test("clearAll releases every kind of value: dir, persisted frame, checkpoint") {
    val dirs = Memo[String, String](util.deleteRecursively)
    val frames = Memo[String, DataFrame](Memo.unpersist)
    val ckpts = Memo[String, Memo.Checkpointed](Memo.unpersistCheckpoint)

    val path = dirs.get("k", "fp")(Memo.tempDir("memo_dir")(_ => ()))
    val frame = frames.get("k", "fp") {
      val df = spark.range(100).toDF("id").persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }
    val (_, rdd) = ckpts.get("k", "fp") {
      val df = spark.range(100).toDF("id").localCheckpoint(true)
      (df, df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd })
    }
    assert(Files.exists(Paths.get(path)))
    assert(frame.storageLevel === StorageLevel.MEMORY_ONLY)
    assert(rdd.exists(_.getStorageLevel != StorageLevel.NONE))

    Memo.clearAll()
    assert(!Files.exists(Paths.get(path)), "dir must be deleted")
    assert(frame.storageLevel === StorageLevel.NONE, "frame must be unpersisted")
    assert(rdd.get.getStorageLevel === StorageLevel.NONE, "checkpoint blocks must be unpersisted")
    assert(Seq(dirs.size, frames.size, ckpts.size) === Seq(0, 0, 0))
  }

  test("the bucketed layout dir is deleted by Bucketing.clearTableCache()") {
    val dir = TestSpark.sfDir
    def layoutDir(): Path = {
      val (ot, _) = operators.Bucketing.bucketedTables(spark, dir)
      val loc = spark.sql(s"DESCRIBE FORMATTED $ot").collect()
        .find(_.getString(0).trim == "Location").get.getString(1)
      Paths.get(new java.net.URI(loc)).getParent
    }
    val base = layoutDir()
    assert(Files.exists(base) && base.getFileName.toString.startsWith("graft_bucketed"))
    operators.Bucketing.clearTableCache()
    assert(!Files.exists(base), s"cleared bucketed layout left behind: $base")
    // a rebuild after the clear writes a fresh layout the join reads
    val rebuilt = layoutDir()
    assert(rebuilt != base && Files.exists(rebuilt))
    assert(operators.Bucketing.joinBucketed(spark, dir).count() > 0)
  }
}
