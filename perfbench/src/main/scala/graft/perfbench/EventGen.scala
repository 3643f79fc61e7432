package graft.perfbench

import java.io.{File, FileOutputStream}
import java.security.MessageDigest

import scala.collection.mutable

import graft.sources.{CommitLogFormat, CommitLogOffset}

/** One generated commitlog entry and what the generator knows about it. */
final case class GenEvent(op: Char, json: String, key: String,
    eventId: String, ts: Long, kind: GenEvent.Kind, delete: Boolean,
    email: String)

object GenEvent {
  sealed trait Kind
  case object Normal extends Kind
  case object Invalid extends Kind
  case object Duplicate extends Kind
  case object Late extends Kind
}

/** The winner of one key under last-write-wins: highest
  * `(timestamp_micros, event_id)`. */
final case class Winner(ts: Long, eventId: String, delete: Boolean,
    email: String)

/** The generator's own last-write-wins model of every valid event it
  * emitted, duplicates and late events included. The pipeline's state
  * and versioned view must equal it. */
final class LwwModel {
  val winners = mutable.HashMap.empty[String, Winner]
  var invalid = 0L

  def observe(e: GenEvent): Unit =
    if (e.kind == GenEvent.Invalid) invalid += 1
    else winners.get(e.key) match {
      case Some(w) if w.ts > e.ts || (w.ts == e.ts && w.eventId >= e.eventId) => ()
      case _ => winners(e.key) = Winner(e.ts, e.eventId, e.delete, e.email)
    }

  def live: Map[String, Winner] = winners.iterator.filterNot(_._2.delete).toMap
}

/** Seeded change-event generator over a fixed key space of `nKeys` users.
  *
  * Mix of live events: 1% invalid envelopes (three shapes the validator
  * rejects), 2% redeliveries of a recent valid event, 2% late events
  * (older than the key's current winner), and otherwise UPDATEs, with 6%
  * DELETEs of live keys and INSERTs of deleted keys. Every event carries
  * PII (`email`, `phone`) and PHI (`diagnosis`) columns. The seed fixes
  * keys, operation order, payloads and which events are invalid,
  * duplicated or late; the caller supplies only `captured_at`.
  */
final class EventGen(seed: Long, val nKeys: Int) {
  import GenEvent._

  private val rnd = new java.util.SplittableRandom(seed)
  val model = new LwwModel
  private var seq = 0L
  private val recent = new Array[GenEvent](1024)
  private var nRecent = 0L
  // per-key timestamps already used, so a late event never ties another
  private val lateTs = mutable.HashSet.empty[(String, Long)]

  private val BaseTs = 1704067200000000L // 2024-01-01T00:00:00Z

  def keyOf(k: Int): String = s"ecommerce.users:user_id=u$k:"

  private def envelope(id: String, typ: String, pk: String, cols: String,
      ts: Long, capturedAt: Long): String =
    s"""{"event_id":"$id","event_type":"$typ","table_name":"users",""" +
      s""""keyspace":"ecommerce","partition_key":$pk,""" +
      s""""clustering_key":{},"columns":$cols,""" +
      s""""timestamp_micros":$ts,"captured_at_micros":$capturedAt}"""

  private def columns(k: Int, n: Long): (String, String) = {
    val email = s"user$k.$n@example.com"
    (email, s"""{"email":"$email","phone":"+1-555-${rnd.nextInt(10000000)}",""" +
      s""""diagnosis":"icd-${rnd.nextInt(1000)}","age":"${18 + rnd.nextInt(70)}",""" +
      s""""plan":"${Plans(rnd.nextInt(Plans.length))}"}""")
  }
  private val Plans = Array("free", "basic", "gold", "platinum")

  private def emit(e: GenEvent): GenEvent = {
    model.observe(e)
    if (e.kind == Normal) {
      recent((nRecent % recent.length).toInt) = e
      nRecent += 1
    }
    e
  }

  private def upsert(k: Int, typ: String, capturedAt: Long): GenEvent = {
    val n = seq; seq += 1
    val id = s"e$seed-$n"
    val ts = BaseTs + n * 1000
    val pk = s"""{"user_id":"u$k"}"""
    if (typ == "DELETE")
      emit(GenEvent('D', envelope(id, typ, pk, "{}", ts, capturedAt),
        keyOf(k), id, ts, Normal, delete = true, email = null))
    else {
      val (email, cols) = columns(k, n)
      emit(GenEvent(typ.head, envelope(id, typ, pk, cols, ts, capturedAt),
        keyOf(k), id, ts, Normal, delete = false, email))
    }
  }

  /** The INSERT that seeds key `k` (call for k = 0 until nKeys first). */
  def preload(k: Int, capturedAt: Long): GenEvent =
    upsert(k, "INSERT", capturedAt)

  /** The next live event, stamped with `capturedAt` (epoch micros). */
  def next(capturedAt: Long): GenEvent = {
    val r = rnd.nextInt(1000)
    if (r < 10) invalid(capturedAt)
    else if (r < 30 && nRecent > 0) duplicate(capturedAt)
    else if (r < 50) late(capturedAt)
    else {
      val k = rnd.nextInt(nKeys)
      val cur = model.winners.get(keyOf(k))
      val typ =
        if (cur.forall(_.delete)) "INSERT"
        else if (rnd.nextInt(100) < 6) "DELETE"
        else "UPDATE"
      upsert(k, typ, capturedAt)
    }
  }

  private def invalid(capturedAt: Long): GenEvent = {
    val n = seq; seq += 1
    val id = s"e$seed-$n"
    val ts = BaseTs + n * 1000
    val k = rnd.nextInt(nKeys)
    val (_, cols) = columns(k, n)
    val pk = s"""{"user_id":"u$k"}"""
    val json = (n % 3) match {
      case 0 => envelope(id, "TRUNCATE", pk, cols, ts, capturedAt)
      case 1 => envelope(id, "UPDATE", "{}", cols, ts, capturedAt)
      case _ => envelope(id, "DELETE", pk, cols, ts, capturedAt)
    }
    emit(GenEvent('U', json, keyOf(k), id, ts, Invalid, delete = false, null))
  }

  /** A redelivery: the same envelope as a recent valid event, restamped
    * with its own capture time (capture time is not part of the dedup
    * key). */
  private def duplicate(capturedAt: Long): GenEvent = {
    val back = 1 + rnd.nextInt(math.min(nRecent, recent.length.toLong).toInt)
    val orig = recent(((nRecent - back) % recent.length).toInt)
    val json = orig.json.replaceFirst("\"captured_at_micros\":\\d+",
      s""""captured_at_micros":$capturedAt""")
    emit(orig.copy(json = json, kind = Duplicate))
  }

  /** An UPDATE older than the key's current winner, which must lose. */
  private def late(capturedAt: Long): GenEvent = {
    val k = rnd.nextInt(nKeys)
    val key = keyOf(k)
    val n = seq; seq += 1
    val id = s"e$seed-$n"
    val winnerTs = model.winners.get(key).map(_.ts).getOrElse(BaseTs + n * 1000)
    var ts = winnerTs - 1 - rnd.nextInt(999)
    while (lateTs.contains((key, ts))) ts -= 1000
    lateTs += ((key, ts))
    val (email, cols) = columns(k, n)
    emit(GenEvent('U', envelope(id, "UPDATE", s"""{"user_id":"u$k"}""", cols,
      ts, capturedAt), key, id, ts, Late, delete = false, email))
  }
}

object EventGen {
  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}

/** Appends framed entries to numbered commitlog segments, sealing a
  * segment after `entriesPerFile` entries. Remembers each entry's
  * `(file, end position)` so committed offsets map back to entries. */
final class SegmentWriter(dir: File, entriesPerFile: Int) {
  private var fileNo = 0
  private var inFile = 0
  private var pos = 0L
  private var out: FileOutputStream = _
  val ends = mutable.ArrayBuffer.empty[CommitLogOffset]

  def fileName(n: Int): String = f"${CommitLogFormat.FilePrefix}$n%06d${CommitLogFormat.FileSuffix}"

  /** Append a group of entries with one write, so a reader never waits on
    * a half-written group for long. */
  def append(events: Seq[GenEvent]): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    events.foreach { e =>
      if (out == null || inFile == entriesPerFile) {
        if (buf.size > 0) { out.write(buf.toByteArray); buf.reset() }
        roll()
      }
      val f = CommitLogFormat.frame(e.op, e.json)
      buf.write(f)
      pos += f.length
      inFile += 1
      ends += CommitLogOffset(fileName(fileNo), pos)
    }
    if (buf.size > 0) out.write(buf.toByteArray)
    out.flush()
  }

  private def roll(): Unit = {
    if (out != null) { out.close(); fileNo += 1 }
    out = new FileOutputStream(new File(dir, fileName(fileNo)))
    inFile = 0
    pos = 0L
  }

  def close(): Unit = if (out != null) out.close()
}
