package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class EventGenSpec extends AnyFunSuite {

  /** Segment bytes of a preload plus `n` live events, file by file. */
  private def segments(seed: Long, n: Int): Seq[(String, Seq[Byte])] = {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    val gen = new EventGen(seed, 500)
    val w = new SegmentWriter(dir, 1000)
    w.append((0 until 500).map(k => gen.preload(k, 1000L)))
    (0 until n).grouped(97).foreach(g => w.append(g.map(i => gen.next(2000L + i))))
    w.close()
    dir.listFiles().toSeq.sortBy(_.getName)
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)
  }

  test("the same seed gives byte-identical segments") {
    val a = segments(7, 3000)
    assert(a.length == 4)
    assert(a == segments(7, 3000))
  }

  test("another seed gives other segments") {
    assert(segments(7, 3000) != segments(8, 3000))
  }

  test("the mix holds invalid, duplicate and late events, and the model ignores the losers") {
    val gen = new EventGen(3, 200)
    val pre = (0 until 200).map(k => gen.preload(k, 0L))
    val evs = (0 until 20000).map(i => gen.next(i.toLong))
    val kinds = evs.groupBy(_.kind).map { case (k, v) => k -> v.length }
    assert(kinds(GenEvent.Invalid) > 100 && kinds(GenEvent.Duplicate) > 200 &&
      kinds(GenEvent.Late) > 200)
    assert(gen.model.invalid == kinds(GenEvent.Invalid))
    // no late event is any key's winner
    val late = evs.filter(_.kind == GenEvent.Late).map(_.eventId).toSet
    assert(gen.model.winners.values.forall(w => !late.contains(w.eventId)))
    // the winner of every key is its highest (timestamp, id) valid event
    val valid = (pre ++ evs).filter(_.kind != GenEvent.Invalid)
    valid.groupBy(_.key).foreach { case (k, es) =>
      assert(gen.model.winners(k).eventId == es.maxBy(e => (e.ts, e.eventId)).eventId)
    }
  }

  test("a duplicate repeats an earlier envelope apart from its capture time") {
    val gen = new EventGen(5, 50)
    val pre = (0 until 50).map(k => gen.preload(k, 0L))
    val evs = (0 until 5000).map(i => gen.next(1000L + i))
    val byId = (pre ++ evs).filter(_.kind == GenEvent.Normal).map(e => e.eventId -> e).toMap
    val strip = (s: String) => s.replaceFirst("\"captured_at_micros\":\\d+", "")
    evs.filter(_.kind == GenEvent.Duplicate).foreach { d =>
      assert(strip(d.json) == strip(byId(d.eventId).json))
    }
  }
}
