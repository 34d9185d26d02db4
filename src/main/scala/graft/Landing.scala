package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The landing swap: how every persisted artifact of the engine (the
  * streaming aggregates table, the persisted indexes, every
  * `DerivedCache` artifact) replaces its previous version in place.
  *
  * [[swap]] writes the new version into a writer-unique
  * `<target>.staging-<id>` sibling, writes its sidecars into staging
  * BEFORE any rename, then renames the live target aside to
  * `<target>.old-<id>` and staging in. So a reader never observes data
  * whose sidecars disagree, and a crash mid-build leaves the previous
  * version serving. A crash between the two renames leaves only the
  * aside; [[recover]] restores it. The rename swap is atomic on
  * HDFS-like filesystems; object stores get a short old -> missing -> new
  * window.
  *
  * Writer-unique names let two sessions build the same target at once
  * (two nightly jobs, a backfill beside a cron) without truncating each
  * other's staging. A killed JVM still strands its siblings, so each
  * swap first reaps the ones idle past a TTL. This attempt's staging and
  * aside never outlive the call: the aside only ever holds the displaced
  * version, so it is dropped on every exit path that leaves a target
  * landed.
  *
  * Sidecars are underscore-prefixed text files in the landed dir
  * (parquet scans ignore them); [[sidecar]] is their one reader.
  */
object Landing {

  private val Never: () => Boolean = () => false

  /** Land a new version of `target`. `write(staging)` writes the data
    * into the staging dir and returns the sidecars, name -> text.
    *
    * `landed` answers "does the target already hold what this build would
    * land?" — a concurrent writer's deterministic build of the same
    * bytes. It is consulted at the three race points: `write` threw (it
    * may have read the live target while the winner swapped it away), the
    * last check before the aside rename, and a rename-in that failed or
    * nested. A true answer serves the winner's landing instead of failing
    * or renaming over it.
    */
  def swap(s: SparkSession, target: String, landed: () => Boolean = Never)
          (write: String => Map[String, String]): Unit = {
    val dst = new Path(target)
    // the FileSystem that OWNS `target`, not the default FS — with e.g. an
    // s3a:// index over an hdfs:// defaultFS they differ
    val fs = dst.getFileSystem(s.sparkContext.hadoopConfiguration)
    reapStale(fs, dst)
    val staging = new Path(s"$target.staging-${newId()}")
    val aside = new Path(s"$target.old-${newId()}")
    val isLanded = () =>
      try landed() catch { case _: java.io.IOException => false }
    try {
      val built =
        try Some(write(staging.toString))
        catch {
          case scala.util.control.NonFatal(e) =>
            if (isLanded()) None else throw e
        }
      built.foreach { sidecars =>
        sidecars.foreach { case (name, text) =>
          val out = fs.create(new Path(staging, name), true)
          try out.write(text.getBytes("UTF-8")) finally out.close()
        }
        // last-check-wins: never rename over a live landing of these bytes
        if (!isLanded()) replace(fs, staging, dst, aside, isLanded)
      }
    } finally {
      // the aside goes unless a failed rename-in left it the only copy,
      // for [[recover]]; the staging dir never outlives the call
      try { if (fs.exists(dst)) fs.delete(aside, true) }
      finally fs.delete(staging, true)
    }
  }

  private def newId(): String = java.util.UUID.randomUUID().toString.take(8)

  /** The one rename step: move `dst` (if present) aside, rename `src` in,
    * drop the aside. A failed step throws unless `landed` says the target
    * already holds these bytes.
    */
  private def replace(fs: FileSystem, src: Path, dst: Path, aside: Path,
                      landed: () => Boolean): Unit = {
    def failed(step: String): Unit =
      if (!landed())
        throw new java.io.IOException(s"landing $step failed: $src -> $dst")
    fs.delete(aside, true)
    // a failed aside rename must abort: if dst survives it, the rename-in
    // below would nest src INSIDE dst and report success
    if (fs.exists(dst) && !fs.rename(dst, aside)) failed("aside")
    else if (!fs.rename(src, dst)) failed("rename")
    else {
      // HDFS-semantics rename SUCCEEDS by nesting src inside a dst that a
      // concurrent writer landed between the aside and the rename-in; a
      // recursive parquet listing would then read duplicate rows
      val nested = new Path(dst, src.getName)
      if (fs.exists(nested)) { fs.delete(nested, true); failed("rename") }
      fs.delete(aside, true)
    }
  }

  /** Restore `target` from the newest `<target>.old*` sibling when a crash
    * between the aside and the rename-in left only the aside. A no-op when
    * `target` exists.
    */
  def recover(s: SparkSession, target: String): Unit = {
    val dst = new Path(target)
    val fs = dst.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(dst))
      siblings(fs, dst).filter(_._2 == "old").map(_._1)
        .sortBy(_.getModificationTime).lastOption
        .foreach { st =>
          if (!fs.rename(st.getPath, dst)) throw new java.io.IOException(
            s"landing recovery failed: ${st.getPath} -> $dst")
        }
  }

  /** The text of sidecar `name` in landed dir `dir`, if present. */
  def sidecar(s: SparkSession, dir: String, name: String): Option[String] = {
    val p = new Path(dir, name)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** [[sidecar]] for a loader that cannot go on without it: a missing
    * sidecar fails with an error naming its path.
    */
  private[graft] def required(s: SparkSession, dir: String,
                              name: String): String =
    sidecar(s, dir, name).getOrElse(throw new java.io.FileNotFoundException(
      s"missing sidecar ${new Path(dir, name)}"))

  /** `<base>.staging[-id]` or `<base>.old[-id]`: a swap's own sibling,
    * never a landed target.
    */
  private val Sibling = """(.+)\.(staging|old)(?:-[0-9a-f]+)?""".r

  private[graft] def isSibling(name: String): Boolean = Sibling.matches(name)

  /** `target`'s staging/aside siblings with their kind. Pre-upgrade fixed
    * `.staging`/`.old` names match too.
    */
  private def siblings(fs: FileSystem, target: Path)
      : Seq[(org.apache.hadoop.fs.FileStatus, String)] = {
    val parent = target.getParent
    if (parent == null || !fs.exists(parent)) Nil
    else fs.listStatus(parent).toSeq.flatMap { st =>
      st.getPath.getName match {
        case Sibling(base, kind) if base == target.getName => Seq(st -> kind)
        case _ => Nil
      }
    }
  }

  /** TTL for reclaiming siblings left by crashed builds. Liveness is
    * judged by the NEWEST mtime anywhere in the candidate's subtree, not
    * the top dir's: a running Spark write keeps landing task files under
    * `_temporary/` (the committer only renames them up at job commit), so
    * the top dir's own mtime can sit at job-setup time for the whole
    * build — while the tree's newest file stays recent as long as tasks
    * make progress.
    */
  private val ReapIdleMs = 60L * 60 * 1000

  private def newestMtime(fs: FileSystem, p: Path, depth: Int): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory || depth == 0) st.getModificationTime
    else {
      val kids = fs.listStatus(p)
      if (kids.isEmpty) st.getModificationTime
      else math.max(st.getModificationTime,
                    kids.map(k => newestMtime(fs, k.getPath, depth - 1)).max)
    }
  }

  private def reapStale(fs: FileSystem, target: Path): Unit =
    try {
      val now = System.currentTimeMillis()
      siblings(fs, target).foreach { case (st, _) =>
        if (now - newestMtime(fs, st.getPath, 4) > ReapIdleMs)
          fs.delete(st.getPath, true)
      }
    } catch { case _: java.io.IOException => () } // best-effort
}
