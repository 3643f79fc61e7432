package graft.fs

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The small files a table commits through, under one root on any Hadoop
  * `FileSystem`: one-line pointers (`_LATEST`, `CURRENT`, `GRID`,
  * `PLANES`), empty markers (`_committed_<id>`, `_DONE`) and the listings
  * and deletes around them. It is Spark's `CheckpointFileManager`, the
  * one that writes a streaming query's offset and commit logs, so a
  * `file:` URI, a plain path and any other Hadoop scheme name the same
  * files through the same code. Names are relative to the root; `""` is
  * the root itself. */
final class CommitFiles(val root: Path, conf: Configuration) {

  private val fm = CheckpointFileManager.create(root, conf)

  def path(name: String): Path = if (name.isEmpty) root else new Path(root, name)

  /** The root qualified by its filesystem: one string per table, however
    * its path was written. */
  lazy val id: String = root.getFileSystem(conf).makeQualified(root).toString

  /** A one-line file's content, trimmed; `None` when it does not exist. */
  def read(name: String): Option[String] =
    try {
      val in = fm.open(path(name))
      try Some(new String(in.readAllBytes(), UTF_8).trim) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Replace `name` with `content` atomically: a reader sees the old or
    * the new content, never a part of either. Every call stages through
    * its own temp name, so two writers of one file cannot interleave. */
  def swap(name: String, content: String): Unit = {
    val out = fm.createAtomic(path(name), true)
    try out.write(content.getBytes(UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  /** An empty marker file: `name` happened. */
  def mark(name: String): Unit = swap(name, "")

  def exists(name: String): Boolean = fm.exists(path(name))

  /** The entries of a directory (no checksum files); empty when it does
    * not exist. */
  def list(dir: String): Seq[FileStatus] =
    try fm.list(path(dir)).toSeq catch { case _: FileNotFoundException => Nil }

  /** Delete a file, or a directory and everything under it; a missing
    * one is already deleted. */
  def delete(name: String): Unit = fm.delete(path(name))

  def mkdirs(name: String): Unit = fm.mkdirs(path(name))
}

object CommitFiles {

  /** The files under `root`, on the Hadoop configuration of `spark`. */
  def apply(spark: SparkSession, root: String): CommitFiles =
    new CommitFiles(new Path(root), spark.sessionState.newHadoopConf())

  /** Whether `dir` exists, on its own Hadoop filesystem: a `java.io.File`
    * check reads every hdfs:// path as missing. */
  def exists(spark: SparkSession, dir: String): Boolean = apply(spark, dir).exists("")
}
