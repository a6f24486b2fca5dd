package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The driver's one result memo: where several declared rows read the
  * same expensive result (a graph fixpoint, a trained model, a staged
  * replay dir) it is computed once per dataset and replayed.
  *
  * - Key: `(tag, d)`, the tag carrying any parameter of the result. The
  *   entry keeps the [[fingerprint]] of the tables its compute reads; a
  *   different fingerprint is a miss, and the miss replaces the entry.
  *   When the fingerprint cannot see the files the memo is off: compute,
  *   store nothing.
  * - Values are plain data (rows plus schema, scalars, dir strings),
  *   never a DataFrame or a session: a stored frame replays as a local
  *   relation under the caller's session. A frame over [[capRows]] stays
  *   distributed and is not stored.
  * - `compute` runs outside the map (get, compute, then put), so a
  *   compute may itself call the memo.
  */
object Memo {

  /** The most rows a memoized frame pins on the driver. */
  val capRows = 500000

  private final case class Entry(fp: String, value: Any)
  private final case class Rows(rows: Array[Row], schema: StructType)
  private val entries = new ConcurrentHashMap[(String, String), Entry]()

  /** Content digest of the named tables under `d` (`<d>/<name>.parquet`):
    * every file's path, length and mtime from a recursive listing through
    * the path's OWN Hadoop FileSystem (the `Streams.statePartitions`
    * recipe), so hdfs://, s3a:// and file: URIs are seen, not just bare
    * local paths. Local mtimes are read at NANOSECOND granularity where
    * the filesystem keeps it: a same-size rewrite inside one millisecond
    * still changes the digest. None when the listing cannot see the
    * files — a missing path, a listing that throws, a directory that
    * vanishes mid-walk. */
  def fingerprint(s: SparkSession, d: String, tables: Seq[String]): Option[String] =
    try {
      val hconf = s.sessionState.newHadoopConf()
      val md = java.security.MessageDigest.getInstance("SHA-256")
      tables.foreach { name =>
        val root = new org.apache.hadoop.fs.Path(s"$d/$name.parquet")
        val it = root.getFileSystem(hconf).listFiles(root, true)
        val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
        files.sortBy(_.getPath.toString).foreach { f =>
          val mtime =
            if (f.getPath.toUri.getScheme == "file")
              java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(f.getPath.toUri))
                .to(TimeUnit.NANOSECONDS)
            else f.getModificationTime
          md.update(s"${f.getPath}\u0000${f.getLen}\u0000$mtime\n".getBytes(UTF_8))
        }
      }
      Some(md.digest().map(b => f"$b%02x").mkString)
    } catch { case NonFatal(_) => None }

  /** A plain value computed from the named tables under `d`. */
  def apply[V](s: SparkSession, tag: String, d: String, tables: String*)(compute: => V): V =
    memo[V, V](s, tag, d, tables)(identity) { val v = compute; (v, Some(v)) }

  /** A relation computed from the named tables under `d`: collected once
    * and replayed as a local relation, or returned as computed (and not
    * stored) when it holds more than [[capRows]] rows. */
  def frame(s: SparkSession, tag: String, d: String, tables: String*)(compute: => DataFrame): DataFrame =
    frames(s, tag, d, tables: _*)((Seq(compute), ()))._1.head

  /** [[frame]] for a result of several relations plus plain values `A`,
    * stored as one entry: stored only when every relation fits. */
  def frames[A](s: SparkSession, tag: String, d: String, tables: String*)(
      compute: => (Seq[DataFrame], A)): (Seq[DataFrame], A) = {
    def replay(v: (Seq[Rows], A)): (Seq[DataFrame], A) =
      (v._1.map(r => s.createDataFrame(r.rows.toSeq.asJava, r.schema)), v._2)
    memo[(Seq[Rows], A), (Seq[DataFrame], A)](s, tag, d, tables)(replay) {
      val (dfs, a) = compute
      val heads = dfs.map(_.head(capRows + 1))
      if (heads.exists(_.length > capRows)) ((dfs, a), None)
      else {
        val v = (heads.zip(dfs).map { case (h, df) => Rows(h, df.schema) }, a)
        (replay(v), Some(v))
      }
    }
  }

  /** `miss` yields the caller's result and the value to store, if any. */
  private def memo[V, R](s: SparkSession, tag: String, d: String, tables: Seq[String])(
      replay: V => R)(miss: => (R, Option[V])): R =
    fingerprint(s, d, tables) match {
      case None => miss._1
      case Some(fp) =>
        val key = (tag, d)
        val hit = entries.get(key)
        if (hit != null && hit.fp == fp) replay(hit.value.asInstanceOf[V])
        else {
          val (r, stored) = miss
          stored match {
            case Some(v) if hit == null => entries.putIfAbsent(key, Entry(fp, v))
            case Some(v) => entries.replace(key, hit, Entry(fp, v))
            case None => entries.remove(key, hit)
          }
          r
        }
    }
}
