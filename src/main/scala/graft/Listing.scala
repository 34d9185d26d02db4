package graft

import org.apache.spark.sql.SparkSession

/** The freshness listing of a table or corpus path: one
  * `relpath|length|mtime` line per visible data file, sorted. It is the
  * single definition of "these bytes changed" that the session memos
  * ([[Tables]], `DerivedCache`) and the persisted `_fingerprint` /
  * `_manifest` sidecars share.
  *
  * The walk mirrors Spark's file index: names starting with `_` or `.`
  * (commit markers, checksums, sidecars, staging dirs) are hidden, and
  * directories recurse two levels, so partitioned tables and a corpus dir
  * of tables are both covered. A directory at the depth limit contributes
  * its own line.
  *
  * A path that does not exist lists as empty; callers that read it next
  * get the reader's own error, which names the path.
  */
object Listing {

  /** The sorted listing lines of `path`, each paired with its file's
    * qualified path (what an append-aware reader scans).
    */
  def files(s: SparkSession, path: String): Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val root =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return Nil }
    def entry(st: org.apache.hadoop.fs.FileStatus,
              rel: java.net.URI => String) = {
      val q = fs.makeQualified(st.getPath)
      (s"${rel(q.toUri)}|${st.getLen}|${st.getModificationTime}", q.toString)
    }
    if (!root.isDirectory) return Seq(entry(root, _ => p.getName))
    val rootUri = fs.makeQualified(p).toUri
    def walk(dir: org.apache.hadoop.fs.Path, depth: Int)
        : Seq[(String, String)] =
      fs.listStatus(dir).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_") ||
                         st.getPath.getName.startsWith("."))
        .flatMap { st =>
          if (st.isDirectory && depth > 0) walk(st.getPath, depth - 1)
          else Seq(entry(st, rootUri.relativize(_).getPath))
        }
    walk(p, 2).sortBy(_._1)
  }

  /** The md5 token of listing `lines` — the memo key and sidecar value. */
  def token(lines: Seq[String]): String = md5hex(lines.mkString("\n"))

  def token(s: SparkSession, path: String): String =
    token(files(s, path).map(_._1))

  private[graft] def md5hex(v: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
