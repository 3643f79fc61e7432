package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import scala.util.Random

import org.apache.spark.sql.types.StructType
import graft.events.ChangeEvent
import graft.schema.{AddColumn, DropColumn, SchemaDiff, SchemaMeta}
import graft.sinks.{Retry, RetryPolicy}
import graft.types.CqlTypes

/** ScalaCheck properties for the pure (driver-side) kernel — the SURVEY §5
  * property-test tier: backoff math bounds, retry outcome accounting,
  * schema-diff duality, schema-hash canonicalization, event-key
  * permutation invariance.
  */
object GraftProperties extends Properties("graft") {

  // ---- retry backoff (reference src/sinks/retry.py:38-70 semantics) -------

  private val genPolicy: Gen[RetryPolicy] = for {
    base <- Gen.choose(1L, 5000L)
    mult <- Gen.choose(1.0, 4.0)
    cap <- Gen.choose(base, 60000L)
    jitter <- Gen.choose(0.0, 0.5)
  } yield RetryPolicy(maxAttempts = 5, baseDelayMs = base, multiplier = mult,
    maxDelayMs = cap, jitterFraction = jitter)

  property("backoff is monotone and capped") =
    forAll(genPolicy, Gen.choose(1, 20)) { (p, n) =>
      val delays = (1 to n).map(p.backoffMs)
      delays.zip(delays.tail).forall { case (a, b) => b >= a } &&
        delays.forall(_ <= p.maxDelayMs)
    }

  property("jittered backoff stays within ±jitterFraction of the base") =
    forAll(genPolicy, Gen.choose(1, 20), Gen.long) { (p, n, seed) =>
      val base = p.backoffMs(n).toDouble
      val d = p.backoffWithJitterMs(n, new Random(seed)).toDouble
      d >= math.max(0, base * (1 - p.jitterFraction)) - 1 &&
        d <= base * (1 + p.jitterFraction) + 1
    }

  property("withRetry succeeds after exactly k failures when k < maxAttempts") =
    forAll(Gen.choose(0, 4)) { k =>
      val p = RetryPolicy(maxAttempts = 5, baseDelayMs = 1, maxDelayMs = 2)
      var calls = 0
      val out = Retry.withRetry(p, sleep = _ => ()) {
        calls += 1
        if (calls <= k) throw new java.net.ConnectException("refused")
        42
      }
      out == Retry.Succeeded(42, k + 1)
    }

  property("withRetry: permanent errors never retry, retryable exhaust at cap") = {
    val p = RetryPolicy(maxAttempts = 3, baseDelayMs = 1, maxDelayMs = 2)
    var permCalls = 0
    val perm = Retry.withRetry(p, sleep = _ => ()) {
      permCalls += 1; throw new IllegalArgumentException("bad schema")
    }
    var exhCalls = 0
    val exh = Retry.withRetry(p, sleep = _ => ()) {
      exhCalls += 1; throw new java.util.concurrent.TimeoutException("slow")
    }
    Prop(permCalls == 1 && perm.isInstanceOf[Retry.Permanent] &&
      exhCalls == 3 && exh.isInstanceOf[Retry.Exhausted])
  }

  // ---- schema diff / hash ---------------------------------------------------

  private val colNames = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
  private val cqlTypes = Gen.oneOf("TEXT", "INT", "BIGINT", "FLOAT", "DOUBLE",
    "UUID", "TIMESTAMP", "BOOLEAN")

  private val genSchema: Gen[StructType] = for {
    names <- Gen.someOf("a", "b", "c", "d", "e", "f", "g", "h")
    fields <- Gen.sequence[Seq[(String, String)], (String, String)](
      names.map(n => cqlTypes.map(t => n -> t)))
  } yield StructType(fields.map { case (n, t) => SchemaMeta.field(n, t) })

  property("diff(s, s) is empty and hash is stable") = forAll(genSchema) { s =>
    SchemaDiff.diff(s, s).isEmpty &&
      SchemaDiff.schemaHash(s) == SchemaDiff.schemaHash(s)
  }

  property("diff adds/drops are dual under argument swap") =
    forAll(genSchema, genSchema) { (a, b) =>
      val ab = SchemaDiff.diff(a, b)
      val ba = SchemaDiff.diff(b, a)
      ab.collect { case AddColumn(c, _) => c }.toSet ==
        ba.collect { case DropColumn(c) => c }.toSet
    }

  property("schema hash ignores field order, sees type changes") =
    forAll(genSchema) { s =>
      s.fields.length < 2 || {
        val shuffled = StructType(s.fields.reverse)
        val retyped = StructType(s.fields.updated(0,
          SchemaMeta.field(s.fields(0).name, "BLOB")))
        SchemaDiff.schemaHash(shuffled) == SchemaDiff.schemaHash(s) &&
          SchemaDiff.schemaHash(retyped) != SchemaDiff.schemaHash(s)
      }
    }

  property("widening is reflexive; only the reference matrix widens") =
    forAll(cqlTypes, cqlTypes) { (f, t) =>
      val expected = f == t || Set(
        ("INT", "BIGINT"), ("FLOAT", "DOUBLE"), ("DECIMAL", "DOUBLE"),
        ("TEXT", "VARCHAR"), ("VARCHAR", "TEXT")).contains((f, t))
      CqlTypes.isCompatibleWidening(f, t) == expected
    }

  // ---- event key ------------------------------------------------------------

  private val genKv = Gen.mapOf(Gen.zip(
    Gen.identifier.map(_.take(8)), Gen.alphaNumStr.map(_.take(8))))

  // ---- streaming sketch mirrors (pure JVM side of the batch contracts) ----

  property("cms bucket mirror: geometry holds for arbitrary text") =
    forAll { (s: String) =>
      val hs = graft.streaming.StreamingCms.buckets(s)
      val d = graft.operators.TextAnalysis.CmsDepth
      val w = graft.operators.TextAnalysis.CmsWidth
      hs.size % d == 0 &&
        hs.forall(h => h.row >= 0 && h.row < d &&
          h.bucket >= 0 && h.bucket < w) &&
        // every token contributes exactly one cell per row
        hs.groupBy(_.row).values.forall(_.size == hs.size / d)
    }

  // multi-token operands (single-space separated, whitespace-free
  // tokens) — the shape where split-boundary bugs would show; operands
  // with leading/trailing \t\n legitimately break additivity (the
  // junction collapses their empty token), so they are out of scope
  private val genTokenDoc: Gen[String] = for {
    toks <- Gen.nonEmptyListOf(Gen.identifier)
  } yield toks.mkString(" ")

  property("cms mirror: doc concatenation merges cell multisets") =
    forAll(genTokenDoc, genTokenDoc) { (a, b) =>
      import graft.streaming.StreamingCms.buckets
      val joined = buckets(s"$a $b")
        .groupBy(identity).view.mapValues(_.size).toMap
      val parts = (buckets(a) ++ buckets(b))
        .groupBy(identity).view.mapValues(_.size).toMap
      joined == parts
    }

  property("eventKey is insertion-order invariant and timestamp-sensitive") =
    forAll(genKv, genKv, Gen.choose(0L, 1L << 50)) { (pk, ck, ts) =>
      def ev(p: Map[String, String], c: Map[String, String], t: Long) =
        ChangeEvent("e1", "INSERT", "users", "ks", p, c, Map.empty, t, None, t)
      val reordered = ev(
        Map(pk.toSeq.reverse: _*), Map(ck.toSeq.reverse: _*), ts)
      ev(pk, ck, ts).eventKey == reordered.eventKey &&
        (pk.isEmpty && ck.isEmpty ||
          ev(pk, ck, ts).eventKey != ev(pk, ck, ts + 1).eventKey)
    }

  // ---- upsert state store vs the LWW model (Spark-backed) -----------------

  /** A stream of change events (key, I/U/D, timestamp, unique id) over a
    * few keys with random timestamps (so later events are often older:
    * late arrivals), exact redeliveries of earlier events, and the cut
    * points that split it into micro-batches. */
  private val genStream: Gen[(Vector[(String, String, Long, String)], Seq[Int])] = for {
    n <- Gen.choose(5, 40)
    fresh <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 5)
      typ <- Gen.frequency(3 -> "I", 3 -> "U", 2 -> "D")
      ts <- Gen.choose(0L, 30L)
    } yield (s"k$k", typ, ts))
    // explicit counts: Gen.listOf follows the size parameter, which is 0
    // on the first (here the only) evaluation
    nDup <- Gen.choose(0, n / 2)
    dupAt <- Gen.listOfN(nDup, Gen.choose(0, n - 1))
    nCuts <- Gen.choose(3, 8)
    cuts <- Gen.listOfN(nCuts, Gen.choose(1, n - 1))
  } yield {
    val evs = fresh.zipWithIndex.map { case ((k, t, ts), i) => (k, t, ts, f"e$i%03d") }
    val withDups = dupAt.sorted.foldLeft(evs.toVector) {
      case (acc, i) => acc :+ acc(i)
    }
    (withDups, cuts.distinct.sorted)
  }

  /** `p` once per run rather than minSuccessfulTests times, since every
    * case runs Spark jobs: a passing evaluation counts as a proof. */
  private def once(p: Prop): Prop =
    p.map(r => if (r.status == Prop.True) r.copy(status = Prop.Proof) else r)

  /** How the property writes a stream's batches into the store. */
  private sealed trait WritePolicy
  private case object Upsert extends WritePolicy
  private case object Append extends WritePolicy
  /** `append`, with a `compact` after the batch at this index. */
  private final case class AppendCompactAfter(batch: Int) extends WritePolicy

  property("upsert store over random batches == LatestState over all events") =
    once(Prop.forAllNoShrink(Gen.listOfN(4, Gen.zip(genStream, Gen.choose(0, 8)))) { cases =>
      val spark = SparkSpec.session
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val cols = Seq("k", "typ", "ts", "id")
      cases.forall { case ((evs, cuts), compactAt) =>
        val bounds = (0 +: cuts :+ evs.length).distinct
        val batches = bounds.zip(bounds.tail)
        val model = graft.ops.LatestState.materialize(evs.toDF(cols: _*),
          Seq(col("k")), Seq(col("ts"), col("id")), col("typ") === "D")
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.as[(String, String, Long, String)].collect().toSet
        val policies = Seq(Upsert, Append, AppendCompactAfter(compactAt % batches.size))
        policies.forall { policy =>
          val dir = java.nio.file.Files.createTempDirectory("graft-prop").toString
          // one (ts, id) order for every policy keeps the model deterministic
          val store = new graft.streaming.UpsertStateStore(dir, Seq("k"),
            Seq("ts", "id"), isDeleteCol = "typ", deleteValue = "D")
          batches.zipWithIndex.foreach { case ((a, b), batchId) =>
            val batch = evs.slice(a, b).toDF(cols: _*)
            policy match {
              case Upsert => store.upsert(batch, batchId.toLong)
              case Append => store.append(batch, batchId.toLong)
              case AppendCompactAfter(at) =>
                store.append(batch, batchId.toLong)
                if (batchId == at) store.compact(spark)
            }
          }
          rows(store.current(spark).get) == rows(model)
        }
      }
    })

  // ---- EditWithin1 vs the full Levenshtein DP ------------------------------

  /** Reference: plain code-point Levenshtein (the DuckDB/Spark builtin
    * semantics the q67 oracle replays). */
  private def levRef(a: String, b: String): Int = {
    val as = a.codePoints().toArray
    val bs = b.codePoints().toArray
    val dp = Array.tabulate(bs.length + 1)(identity)
    for (i <- 1 to as.length) {
      var prev = dp(0)
      dp(0) = i
      for (j <- 1 to bs.length) {
        val cur = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (as(i - 1) == bs(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(bs.length)
  }

  // small alphabet (dense near-matches) + astral char to hit the
  // surrogate-pair paths + LONE surrogates (SQL-mintable via chr/concat)
  // so the sweep is the oracle over malformed UTF-16 too — codePoints()
  // in levRef treats an unpaired surrogate as its own code point, and
  // EditWithin1 must agree. Properties take INDEX LISTS and build the
  // strings internally: a failing arg is then printable, where a raw
  // lone surrogate in ScalaCheck's shrunk-args output corrupts the
  // JUnit XML report and aborts the whole forked run.
  private val editAlphabet =
    Vector("a", "b", "é", "𝄞", "\uD834", "\uDD1E")
  private def editStr(idxs: List[Int]): String =
    idxs.map(editAlphabet).mkString
  private val genEditIdx: Gen[List[Int]] = for {
    n <- Gen.choose(0, 8)
    cs <- Gen.listOfN(n, Gen.choose(0, editAlphabet.length - 1))
  } yield cs

  property("EditWithin1 lone-surrogate regressions match the DP") = {
    val f = graft.functions.EditWithin1.compute _
    // the advisor's case: two lone highs are TWO code points
    f("", "\uD834\uD834") == -1 &&
      // lone-high prefix that matches must not be retreated from
      f("\uD834x", "\uD834y") == 1 &&
      // lone-low suffix that matches in both is a matched code point
      f("x\uDD1E", "y\uDD1E") == 1 &&
      // a pair in one string vs its lone high in the other
      f("𝄞", "\uD834x") == -1
  }

  property("EditWithin1 == levenshtein clamped at budget 1") =
    forAll(genEditIdx, genEditIdx) { (ai, bi) =>
      val a = editStr(ai); val b = editStr(bi)
      val expect = { val d = levRef(a, b); if (d <= 1) d else -1 }
      graft.functions.EditWithin1.compute(a, b) == expect
    }

  property("EditWithin1 mutation closure: every single edit is distance 1") =
    forAll(genEditIdx, Gen.choose(0, 100), Gen.oneOf(false, true)) {
      (ai, pos, astral) =>
        val a = editStr(ai)
        val ins = if (astral) "𝄞" else "x"
        val cps = a.codePoints().toArray
        val at = if (cps.isEmpty) 0 else pos % (cps.length + 1)
        def s(cp: Array[Int]) = new String(cp, 0, cp.length)
        val inserted = s(cps.patch(at, ins.codePoints().toArray, 0))
        // patching never creates a new high+low adjacency here ('x' is
        // BMP; 𝄞 re-encodes to a self-delimiting pair), so the patched
        // cp array IS the code-point parse of `inserted` and the true
        // distance is exactly 1
        val f = graft.functions.EditWithin1.compute _
        f(a, inserted) == 1 && f(inserted, a) == 1 && f(a, a) == 0
    }
}
