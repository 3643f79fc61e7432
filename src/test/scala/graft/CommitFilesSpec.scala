package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.fs.CommitFiles

/** `graft.fs.CommitFiles`' contract, on a plain path and on a `file:` URI
  * (which `core-site.xml` binds to `graft.fs`). */
class CommitFilesSpec extends AnyFunSuite {

  private def roots(): Seq[(String, CommitFiles)] = {
    val dir = Files.createTempDirectory("graft-commit-files")
    Seq("plain path" -> dir.resolve("plain").toString,
      "file: URI" -> dir.resolve("uri").toUri.toString).map { case (kind, root) =>
      val files = new CommitFiles(new Path(root), new Configuration())
      files.mkdirs("")
      kind -> files
    }
  }

  test("a missing file reads as None; a marker exists once written") {
    for ((kind, files) <- roots()) {
      assert(files.read("_LATEST").isEmpty, kind)
      assert(!files.exists("_committed_0"), kind)
      files.mark("_committed_0")
      assert(files.exists("_committed_0"), kind)
      assert(files.read("_committed_0").contains(""), kind)
    }
  }

  test("a swap replaces the whole content") {
    for ((kind, files) <- roots()) {
      files.swap("CURRENT", "a much longer first value\n")
      files.swap("CURRENT", "7\n")
      assert(files.read("CURRENT").contains("7"), kind)
      assert(files.list("").map(_.getPath.getName) == Seq("CURRENT"), kind)
    }
  }

  test("list and delete: entry names, recursive delete, a missing dir lists empty") {
    for ((kind, files) <- roots()) {
      files.mkdirs("v1")
      files.mark("v1/_DONE")
      files.mark("_committed_1")
      assert(files.list("").map(_.getPath.getName).toSet ==
        Set("v1", "_committed_1"), kind)
      files.delete("v1")
      files.delete("v1")
      assert(files.list("").map(_.getPath.getName) == Seq("_committed_1"), kind)
      assert(files.list("gone").isEmpty, kind)
    }
  }

  test("two writers swap one pointer 200 times each; a reader never sees " +
      "a missing or torn value") {
    for ((kind, files) <- roots()) {
      def value(w: String, i: Int) = s"$w-$i-" + w * (i % 40)
      val valid = (for (w <- Seq("a", "b"); i <- 0 until 200) yield value(w, i)).toSet
      files.swap("CURRENT", value("a", 0))
      val done = new AtomicBoolean(false)
      val writers = Seq("a", "b").map { w =>
        new Thread(() => (0 until 200).foreach(i => files.swap("CURRENT", value(w, i))))
      }
      var reads = 0
      var bad = Seq.empty[Option[String]]
      val reader = new Thread(() => while (!done.get) {
        val v = files.read("CURRENT")
        reads += 1
        if (!v.exists(valid)) bad :+= v
      })
      reader.start()
      writers.foreach(_.start())
      writers.foreach(_.join())
      done.set(true)
      reader.join()
      assert(bad.isEmpty, s"$kind: ${bad.size} of $reads reads, e.g. ${bad.take(3)}")
      assert(reads > 0, kind)
      assert(files.read("CURRENT").exists(valid), kind)
      // every staging file was renamed away
      assert(files.list("").map(_.getPath.getName) == Seq("CURRENT"), kind)
    }
  }
}
