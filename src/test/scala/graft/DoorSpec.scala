package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The stream door: a started door drains every available file and stops,
  * and a batch replayed after a lost commit lands each row once.
  */
class DoorSpec extends AnyFunSuite with SparkSpec {

  /** `files` text files under a fresh dir, `perFile` lines each. */
  private def staged(files: Int, perFile: Int): JPath = {
    val dir = Files.createTempDirectory("graft-door")
    val in = Files.createDirectories(dir.resolve("in"))
    for (f <- 0 until files)
      Files.writeString(in.resolve(f"part-$f%02d.txt"),
        (0 until perFile).map(i => s"f$f-r$i").mkString("", "\n", "\n"))
    dir
  }

  /** One file per micro-batch, so `files` files make `files` batches. */
  private def stream(dir: JPath) =
    spark.readStream.option("maxFilesPerTrigger", "1")
      .text(dir.resolve("in").toString)

  test("start drains every available file, then stops") {
    val dir = staged(files = 3, perFile = 4)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = Door.start(stream(dir), dir.resolve("ckpt").toString) {
      (batch, id) => seen.synchronized { seen += id -> batch.count() }
    }
    q.awaitTermination(120000L)
    assert(!q.isActive, "a drained door stops on its own")
    assert(q.exception.isEmpty)
    assert(seen.sortBy(_._1) === Seq(0L -> 4L, 1L -> 4L, 2L -> 4L))
  }

  test("a batch replayed after its commit is lost lands each row once") {
    val dir = staged(files = 2, perFile = 5)
    val out = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt")
    /** Drain the door; the batch ids this run landed. */
    def run(): Seq[Long] = {
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = Door.start(stream(dir), ckpt.toString) { (batch, id) =>
        Door.land(batch.withColumn("shard", col("value").substr(1, 2)),
                  id, out, Seq("epoch", "shard"))
        ids.synchronized { ids += id }
      }
      q.awaitTermination(120000L)
      assert(q.exception.isEmpty)
      ids.toSeq
    }
    assert(run() === Seq(0L, 1L))
    // the driver died after batch 1 landed but before its commit: the
    // restart runs batch 1 again under the same id
    Files.delete(ckpt.resolve("commits").resolve("1"))
    Files.deleteIfExists(ckpt.resolve("commits").resolve(".1.crc"))
    assert(run() === Seq(1L))
    val landed = spark.read.parquet(out)
    assert(landed.count() === 10)
    assert(landed.select("value").distinct().count() === 10)
    assert(landed.groupBy("epoch").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap ===
      Map("0" -> 5L, "1" -> 5L))
    assert(Files.isDirectory(dir.resolve("out/epoch=1/shard=f1")))
  }
}
