package graft.perfbench

import graft.sources.CommitLogOffset
import org.scalatest.funsuite.AnyFunSuite

class OffsetMapSpec extends AnyFunSuite {
  private def o(f: String, p: Long) = CommitLogOffset(f, p)

  test("each entry belongs to the first batch whose end offset covers it") {
    val ends = IndexedSeq(o("CommitLog-000000.log", 10), o("CommitLog-000000.log", 20),
      o("CommitLog-000000.log", 30), o("CommitLog-000001.log", 10),
      o("CommitLog-000001.log", 20))
    val batches = Seq(0L -> o("CommitLog-000000.log", 20),
      1L -> o("CommitLog-000000.log", 20), // no new data
      2L -> o("CommitLog-000001.log", 10))
    assert(OffsetMap.assign(ends, batches).toSeq == Seq(0L, 0L, 2L, 2L, -1L))
  }

  test("file order is numeric, as the source orders segments") {
    val ends = IndexedSeq(o("CommitLog-9.log", 5), o("CommitLog-10.log", 5))
    assert(OffsetMap.assign(ends, Seq(3L -> o("CommitLog-9.log", 5))).toSeq == Seq(3L, -1L))
    assert(OffsetMap.assign(ends, Seq(3L -> o("CommitLog-10.log", 5))).toSeq == Seq(3L, 3L))
  }

  test("segment writer offsets are the end positions the source reports") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-off").toFile
    val gen = new EventGen(1, 10)
    val w = new SegmentWriter(dir, 4)
    w.append((0 until 10).map(k => gen.preload(k, 0L)))
    w.close()
    assert(w.ends.map(_.file).distinct ==
      Seq("CommitLog-000000.log", "CommitLog-000001.log", "CommitLog-000002.log"))
    w.ends.groupBy(_.file).foreach { case (f, es) =>
      assert(es.last.pos == new java.io.File(dir, f).length)
      assert(graft.sources.CommitLogFormat.alignedEnd(new java.io.File(dir, f), 0L) ==
        es.last.pos)
    }
  }
}
