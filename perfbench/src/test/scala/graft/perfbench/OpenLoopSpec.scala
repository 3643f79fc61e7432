package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  test("entries stay on schedule and a stall is charged to every entry it delays") {
    val gen = new EventGen(1, 100)
    (0 until 100).foreach(k => gen.preload(k, 0L))
    val calls = new AtomicInteger(0)
    val stamped = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rate = 1000.0
    val loop = new OpenLoop(gen, evs => {
      // the first append stalls for 300 ms, as a GC pause or slow disk would
      if (calls.getAndIncrement() == 0) Thread.sleep(300)
      evs.foreach(e => stamped += "\"captured_at_micros\":(\\d+)".r
        .findFirstMatchIn(e.json).get.group(1).toLong)
    }, rate, ns => ns / 1000)
    loop.start()
    Thread.sleep(800)
    loop.stop()

    val due = loop.dueNs
    assert(due.length > 500)
    // due times follow the schedule, not the generator's progress
    due.indices.foreach(i => assert(due(i) - due(0) == (i * 1e9 / rate).toLong))
    // captured_at is the due time, so lag counts from when an entry was due
    assert(stamped == due.map(_ / 1000))
    // lateness is never negative, and the entries due during the stall were
    // all appended late by up to the stall
    assert(loop.lateNs.forall(_ >= 0))
    val lateDuringStall = loop.lateNs.take(250).count(_ > 50000000L)
    assert(lateDuringStall > 200)
    assert(loop.lateNs.max >= 250000000L)
    // after the stall the generator catches up: recent entries are on time
    assert(loop.lateNs.takeRight(100).forall(_ < 100000000L))
  }

  test("dueBy counts entries due by a time") {
    val loop = new OpenLoop(new EventGen(1, 1), _ => (), 1000.0, identity)
    loop.start(); loop.stop()
    val x = System.nanoTime()
    assert(math.abs(loop.dueBy(x + 1000000000L) - loop.dueBy(x) - 1000L) <= 1)
  }
}
