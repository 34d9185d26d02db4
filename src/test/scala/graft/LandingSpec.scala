package graft

import java.nio.file.{Files, Path => JPath}
import org.scalatest.funsuite.AnyFunSuite

/** The landing swap: a landed target holds exactly the last version's
  * data and sidecars, a failed or pre-empted build leaves the previous
  * landing byte-identical and no staging/aside litter, and [[Landing.recover]]
  * restores an orphaned aside (writer-unique or pre-upgrade name) only
  * when the target is missing.
  */
class LandingSpec extends AnyFunSuite with SparkSpec {

  private def freshTarget(): JPath =
    Files.createTempDirectory("graft-landing").resolve("art")

  /** Relative path -> bytes of every file under `dir`. */
  private def snapshot(dir: JPath): Map[String, Seq[Byte]] = {
    val files = Files.walk(dir)
    try files.filter(Files.isRegularFile(_)).toArray.toSeq
      .map(_.asInstanceOf[JPath])
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq)
      .toMap
    finally files.close()
  }

  private def siblings(target: JPath): Seq[String] =
    Option(target.getParent.toFile.list).toSeq.flatten
      .filter(n => n != target.getFileName.toString &&
                   n.startsWith(target.getFileName.toString))

  /** Land version `v`: one part file plus the given sidecars. */
  private def land(target: JPath, v: String, sidecars: Map[String, String],
                   landed: () => Boolean = () => false): Unit =
    Landing.swap(spark, target.toString, landed) { staging =>
      val dir = java.nio.file.Paths.get(staging)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"part-$v.txt"), v)
      sidecars
    }

  test("a second swap replaces the first version's parts and sidecars") {
    val target = freshTarget()
    land(target, "v1", Map("_geometry" -> "1 2", "_only_v1" -> "x"))
    land(target, "v2", Map("_geometry" -> "3 4"))
    assert(Landing.sidecar(spark, target.toString, "_geometry")
             .contains("3 4"))
    assert(Landing.sidecar(spark, target.toString, "_only_v1").isEmpty)
    val files = target.toFile.list.toSet
    assert(files.contains("part-v2.txt") && !files.contains("part-v1.txt"),
           files.mkString(", "))
    assert(siblings(target).isEmpty, siblings(target).mkString(", "))
  }

  test("a write that throws leaves the previous landing byte-identical") {
    val target = freshTarget()
    land(target, "v1", Map("_geometry" -> "1 2"))
    val before = snapshot(target)
    intercept[IllegalStateException] {
      Landing.swap(spark, target.toString) { staging =>
        Files.createDirectories(java.nio.file.Paths.get(staging))
        throw new IllegalStateException("build blew up")
      }
    }
    assert(snapshot(target) === before)
    assert(siblings(target).isEmpty, siblings(target).mkString(", "))
  }

  test("landed before the aside rename returns without touching the target") {
    val target = freshTarget()
    land(target, "v1", Map("_geometry" -> "1 2"))
    val before = snapshot(target)
    var wrote = false
    Landing.swap(spark, target.toString, () => true) { staging =>
      wrote = true
      val dir = java.nio.file.Paths.get(staging)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("part-v2.txt"), "v2")
      Map("_geometry" -> "3 4")
    }
    assert(wrote, "the build runs; only the landing is skipped")
    assert(snapshot(target) === before)
    assert(siblings(target).isEmpty, siblings(target).mkString(", "))
  }

  test("recover restores an orphaned writer-unique or pre-upgrade aside") {
    Seq(".old-0123abcd", ".old").foreach { suffix =>
      val target = freshTarget()
      land(target, "v1", Map("_geometry" -> "1 2"))
      val before = snapshot(target)
      // a crash between the aside and the rename-in leaves only the aside
      val aside = target.resolveSibling(target.getFileName.toString + suffix)
      Files.move(target, aside)
      Landing.recover(spark, target.toString)
      assert(Files.isDirectory(target), s"aside $suffix was not restored")
      assert(snapshot(target) === before)
      assert(!Files.exists(aside))
    }
  }

  test("recover is a no-op when the target exists") {
    val target = freshTarget()
    land(target, "v2", Map("_geometry" -> "3 4"))
    val stale = target.resolveSibling(target.getFileName.toString + ".old")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-v1.txt"), "v1")
    val before = snapshot(target)
    Landing.recover(spark, target.toString)
    assert(snapshot(target) === before)
    assert(Files.exists(stale.resolve("part-v1.txt")))
  }
}
