package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, md5, min}
import graft.operators.{Dedup, Multimodal, Sampling, TextAnalysis}

/** Rule-filter / routing operators (t15 Gopher rules, t16 code detect,
  * d12 bag dedup) on corpora that actually trip the rules — the driver's
  * synthetic documents are single-line and symbol-free, so their oracle
  * rows prove plumbing only (the t09 PII pattern). */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def gopherRow(text: String): Row = {
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    TextAnalysis.gopherRulesOf(docs).collect().head
  }

  private val fifty = (1 to 50).map(i => s"word$i").mkString(" ")

  test("gopher rules: a clean prose doc passes every rule") {
    val r = gopherRow(s"the cat sat of and is on $fifty")
    assert(r.getAs[Boolean]("f_word_count"))
    assert(r.getAs[Boolean]("f_mean_word_len"))
    assert(r.getAs[Boolean]("f_symbol_ratio"))
    assert(r.getAs[Boolean]("f_bullet_ratio"))
    assert(r.getAs[Boolean]("f_ellipsis_ratio"))
    assert(r.getAs[Boolean]("f_alpha_ratio"))
    assert(r.getAs[Boolean]("f_stopwords"))
    assert(r.getAs[Boolean]("pass_gopher"))
  }

  test("gopher rules: each rule trips independently") {
    // too short
    assert(!gopherRow("the cat is a pet of and").getAs[Boolean]("f_word_count"))
    // mean word length < 3 (all 1-char tokens)
    val short = (1 to 60).map(_ => "a").mkString(" ")
    assert(!gopherRow(short).getAs[Boolean]("f_mean_word_len"))
    // symbol-heavy: > 1 hash per 10 words
    val hashy = s"$fifty ${"# # # # # # # #".trim}"
    assert(!gopherRow(hashy).getAs[Boolean]("f_symbol_ratio"))
    assert(gopherRow(fifty).getAs[Boolean]("f_symbol_ratio"))
    // ellipsis occurrences count non-overlapping '...'
    val dotty = s"$fifty ...... ... ... ... ... ..."
    assert(gopherRow(dotty).getAs[Long]("n_symbols") == 7L)
    // bullet lines: > 90% of lines start with '- ' or '* '
    val bullets = (1 to 10).map(i => s"- item $i").mkString("\n")
    val br = gopherRow(bullets)
    assert(br.getAs[Long]("n_bullet_lines") == 10L &&
      br.getAs[Long]("n_lines") == 10L && !br.getAs[Boolean]("f_bullet_ratio"))
    // ellipsis-end lines: > 30% of lines end '...'
    val trailing = "one two...\nthree four...\nfive six"
    val tr = gopherRow(trailing)
    assert(tr.getAs[Long]("n_ellipsis_lines") == 2L &&
      !tr.getAs[Boolean]("f_ellipsis_ratio"))
    // alphabetic-word fraction < 80%
    val numeric = ((1 to 30).map(_.toString) ++ (1 to 30).map(i => s"w$i"))
      .mkString(" ")
    assert(!gopherRow(numeric).getAs[Boolean]("f_alpha_ratio"))
    // stopword diversity: needs >= 2 DISTINCT stopwords present
    val oneStop = s"the ${(1 to 60).map(i => s"word$i").mkString(" ")}"
    assert(!gopherRow(oneStop).getAs[Boolean]("f_stopwords"))
  }

  test("code detect: source code flags, prose does not") {
    val code = Seq(
      (1L, "def main():\n    return 0;\nclass Foo {\n    void run();\n}"),
      (2L, "the quick brown fox jumps over the lazy dog in the meadow today"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.codeDetectOf(code).collect()
    assert(out(0).getAs[Boolean]("is_code"))
    assert(out(0).getAs[Long]("n_kw_hits") >= 3L)
    assert(out(0).getAs[Long]("n_indent_lines") == 2L)
    assert(out(0).getAs[Long]("n_stmt_lines") >= 2L)
    assert(!out(1).getAs[Boolean]("is_code"))
    assert(out(1).getAs[Long]("n_code_chars") == 0L)
  }

  test("code detect: indentation alone flags brace-free indented blocks") {
    val docs = Seq(
      (1L, "build steps\n    cd tmp\n    make build\n    make test"),
      (2L, "prose line one\nprose line two\nprose line three\nprose four"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.codeDetectOf(docs).collect()
    assert(out(0).getAs[Long]("n_indent_lines") == 3L &&
      out(0).getAs[Boolean]("is_code"))
    assert(!out(1).getAs[Boolean]("is_code"))
  }

  test("bag dedup coalesces word-order permutations exact dedup misses") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma  Beta alpha"), // reorder + case + double space
      (3L, "alpha beta gamma"),  // raw-exact copy of 1
      (4L, "totally different text"))
      .toDF("doc_id", "text")
    val out = Dedup.bagDedupOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 3L, 2L), (4L, 1L, 1L)))
    // raw-exact dedup would keep 1 and 2 apart: 2 raw variants in the bag
  }

  test("repeat factor: small sources repeat up to the cap, deficit is exact") {
    val out = Sampling.repeatFactor(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val total = out.map(_.getAs[Long]("avail_tokens")).sum
    out.foreach { r =>
      val (a, t, ep, eff, d) = (r.getAs[Long]("avail_tokens"),
        r.getAs[Long]("target_tokens"), r.getAs[Long]("epochs"),
        r.getAs[Long]("effective_tokens"), r.getAs[Long]("deficit_tokens"))
      assert(t == total * Sampling.RepeatBudgetMultiple / out.length)
      assert(ep >= 1 && ep <= Sampling.RepeatCap)
      assert(eff == math.min(t, ep * a) && d == t - eff && d >= 0)
      // the cap is the only reason a target goes unmet
      assert(d == 0 || ep == Sampling.RepeatCap)
    }
  }

  test("dedup recall eval: counts are consistent and caches are evicted") {
    val sf = "/root/testdata/sf0.001"
    // earlier suites may leave their own caches behind (shared session);
    // start from a clean slate so the emptiness check below is OURS
    spark.catalog.clearCache()
    val r = Dedup.dedupRecallEval(spark, sf).collect().head
    val (ne, nl, nc) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_lsh"),
      r.getAs[Long]("n_common"))
    assert(nc <= ne && nc <= nl)
    assert(r.getAs[Long]("n_lsh_missed") == ne - nc)
    assert(r.getAs[Long]("n_cap_missed") == nl - nc)
    val rec = r.getAs[Double]("lsh_recall")
    assert(rec >= 0.0 && rec <= 1.0)
    // the s06 eviction contract: no cached plan may leak past the eval
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedupRecallEval leaked a persisted frame")
  }

  test("epoch shuffle: deterministic permutation, balanced shards, decorrelated epochs") {
    val sf = "/root/testdata/sf0.001"
    val out = Sampling.epochShuffle(spark, sf).collect()
    val docs = Tables.table(spark, sf, "documents").count()
    assert(out.length == docs * Sampling.EpochShuffleEpochs)
    // every (epoch, shard) numbers its positions 1..n densely
    out.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to rows.length))
    }
    // rerun is bit-identical (pure function of the data)
    val again = Sampling.epochShuffle(spark, sf).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // epochs give different orders: doc->(shard,pos) maps must differ
    val byEpoch = out.groupBy(_.getInt(0)).map { case (e, rows) =>
      e -> rows.map(r => r.getLong(3) -> ((r.getInt(1), r.getInt(2)))).toMap
    }
    assert(byEpoch(0) != byEpoch(1))
  }

  test("dedup funnel: stages shrink monotonically and stage 1 counts distinct texts") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.dedupFunnel(spark, sf).orderBy("stage").collect()
    assert(rows.map(_.getAs[String]("stage_name")).toSeq ==
      Seq("total", "exact", "bag", "near_dup_cluster"))
    val docs = rows.map(_.getAs[Long]("docs_remaining"))
    val toks = rows.map(_.getAs[Long]("tokens_remaining"))
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b })
    assert(toks.zip(toks.tail).forall { case (a, b) => a >= b })
    val distinctTexts = Tables.table(spark, sf, "documents")
      .select("text").distinct().count()
    assert(docs(1) == distinctTexts)
  }

  test("temperature mixture flattens the natural language skew") {
    val out = Sampling.temperatureMixture(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length > 1)
    val head = out.maxBy(_.getAs[Long]("n_tokens"))
    val tail = out.minBy(_.getAs[Long]("n_tokens"))
    assert(head.getAs[Long]("sampled_ppm") < head.getAs[Long]("natural_ppm"))
    assert(tail.getAs[Long]("sampled_ppm") > tail.getAs[Long]("natural_ppm"))
    out.foreach { r =>
      assert(r.getAs[Long]("weight") ==
        math.floor(math.sqrt(r.getAs[Long]("n_tokens").toDouble)).toLong)
    }
  }

  test("gopher gate runs in-stream: failing docs drop before the sink") {
    // the signals are pure per-row expressions, so the SAME operator is
    // the streaming admission gate (drop junk before state/sinks see it)
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val gated = TextAnalysis.gopherSignals(
        input.toDF().toDF("doc_id", "text"))
      .filter(org.apache.spark.sql.functions.col("pass_gopher"))
      .select("doc_id", "n_tokens")
    val q = gated.writeStream.format("memory").queryName("gophergate")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    val clean = s"the cat sat of and is on $fifty"
    val junk = (1 to 60).map(_ => "###").mkString(" ")
    input.addData((1L, clean), (2L, junk), (3L, "too short"))
    q.processAllAvailable()
    input.addData((4L, clean + " again"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("gophergate").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L))
  }

  test("encoding gate runs in-stream: damaged docs drop before the sink") {
    // t20 is pure per-row expressions like the gopher gate: the SAME
    // operator is the streaming byte-hygiene admission filter
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val gated = TextAnalysis.encodingScanOf(
        input.toDF().toDF("doc_id", "text"))
      .filter(org.apache.spark.sql.functions.col("is_clean"))
      .select("doc_id")
    val q = gated.writeStream.format("memory").queryName("encgate")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    input.addData((1L, "clean prose here"), (2L, "broken � text"),
      (3L, "mojibake cafÃ© latte"))
    q.processAllAvailable()
    input.addData((4L, "still clean"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("encgate").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L))
  }

  test("d24 skeleton key: invariant under alnum payload substitution, " +
      "sensitive to structure") {
    import graft.operators.TextPrep
    val rnd = new scala.util.Random(7)
    def pay(): String =
      Seq.fill(1 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString +
        (if (rnd.nextBoolean()) rnd.nextInt(1000).toString else "")
    // punctuation/layout shapes; every '#' is a payload slot, and the
    // skeleton of any filled instance is exactly the shape string
    val shapes = Seq("[#] # - #!", "# (#): #, #.", "#: # #?",
      "# #, # ... #")
    def fill(s: String): String =
      s.flatMap { case '#' => pay(); case c => c.toString }
    val rows = Seq.tabulate(100) { i =>
      val sh = shapes(i % shapes.size); (fill(sh), fill(sh), sh)
    }.toDF("a", "b", "shape")
    rows.select(TextPrep.skeletonKey(col("a")).as("ka"),
        TextPrep.skeletonKey(col("b")).as("kb"), col("shape"))
      .collect().foreach { r =>
        assert(r.getString(0) == r.getString(2),
          s"skeleton '${r.getString(0)}' != shape '${r.getString(2)}'")
        assert(r.getString(1) == r.getString(2),
          "payload substitution altered the skeleton")
      }
  }

  test("readability matches a hand-computed Flesch score") {
    val r = TextAnalysis.readabilityOf(
      Seq((1L, "The cat. The dog runs!")).toDF("doc_id", "text"))
      .collect().head
    assert(r.getAs[Long]("n_words") == 5)
    assert(r.getAs[Long]("n_sentences") == 2)
    assert(r.getAs[Long]("n_syllables") == 5) // e, a, e, o, u
    assert(r.getAs[Double]("flesch") ==
      206.835 - 1.015 * (5.0 / 2) - 84.6 * (5.0 / 5))
    // an unpunctuated doc is one sentence, not a division by zero
    val one = TextAnalysis.readabilityOf(
      Seq((2L, "no enders here")).toDF("doc_id", "text")).collect().head
    assert(one.getAs[Long]("n_sentences") == 1)
  }

  test("sliding chunks run in-stream: long docs split as they arrive") {
    // pure per-row explode arithmetic, so the SAME operator chunks a
    // live stream (the ingest-side prepass) with no state or watermark
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val W = Sampling.ChunkLen
    val S = Sampling.ChunkStride
    val q = Sampling.slidingChunksOf(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("streamchunks")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    val long = Seq.fill(W + S + 1)("tok").mkString(" ") // 3 windows
    input.addData((1L, long), (2L, "short doc"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("streamchunks").collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(rows(1L).length == 3 && rows(2L).length == 1)
    assert(rows(1L).map(_.getAs[Long]("tok_end")).max == W + S + 1)
  }

  test("channel stats match a hand-decoded BMP") {
    val sf = "/root/testdata/sf0.001"
    val texts = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val r = Multimodal.channelStatsQuery(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 0L)
      .collect().head
    val t = texts(0L)
    val w = Multimodal.MediaCodec.bmpWidth(t.length)
    val bytes = t.take(3 * w * (t.length / (3 * w))).map(_.toInt)
    def chan(c: Int) = bytes.zipWithIndex.collect { case (v, i) if i % 3 == c => v }
    assert(r.getAs[Int]("n_px") == bytes.length / 3)
    assert(r.getAs[Long]("sum_b") == chan(0).map(_.toLong).sum)
    assert(r.getAs[Long]("sum_r") == chan(2).map(_.toLong).sum)
    assert(r.getAs[Long]("sq_g") == chan(1).map(v => v.toLong * v).sum)
    assert(r.getAs[Double]("mean_b") ==
      chan(0).map(_.toLong).sum.toDouble / (bytes.length / 3))
  }

  test("passage cuts excise exactly the shared span, keeping one canonical copy") {
    // doc 1 and doc 2 share a 10-token passage at positions 5..14 inside
    // otherwise-unique text; doc 3 repeats an 8-token passage internally;
    // doc 4 is fully unique. W=8 windows inside the shared passage start
    // at 5,6,7 -> one merged span [5,15) on the NON-canonical doc only.
    val P = (1 to 10).map(i => s"shared$i").mkString(" ")
    val Q = (1 to 8).map(i => s"rep$i").mkString(" ")
    val docs = Seq(
      (1L, s"${(1 to 5).map(i => s"a$i").mkString(" ")} $P ${(1 to 5).map(i => s"z$i").mkString(" ")}"),
      (2L, s"${(1 to 5).map(i => s"b$i").mkString(" ")} $P ${(1 to 5).map(i => s"y$i").mkString(" ")}"),
      (3L, s"$Q filler1 filler2 $Q"),
      (4L, (1 to 20).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = Dedup.passageCutsOf(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_windows"),
        r.getAs[Long]("n_tokens_cut"))).toSet
    assert(rows == Set(
      (2L, 5L, 15L, 3L, 10L),  // doc 2's copy of P: windows 5,6,7 merged
      (3L, 10L, 18L, 1L, 8L))) // doc 3's second Q occurrence
  }

  test("passage cuts match a plain-Scala mirror on random low-vocab corpora") {
    // small vocabulary -> natural window collisions with arbitrary
    // overlap patterns (adjacent repeats, three-way shares, islands that
    // must merge); the mirror recomputes fingerprint->canonical->islands
    // from first principles
    val W = Dedup.PassageLen
    def expected(corpus: Seq[(Long, String)]): Set[(Long, Long, Long, Long, Long)] = {
      val wins = corpus.flatMap { case (id, text) =>
        val t = text.trim.toLowerCase.split("\\s+").toSeq
        if (t.length < W) Seq.empty
        else t.sliding(W).zipWithIndex
          .map { case (w, i) => (w.mkString(" "), id, i.toLong) }
      }
      val cuts = wins.groupBy(_._1).values.flatMap { occ =>
        if (occ.size < 2) Seq.empty
        else occ.toSeq.sortBy(o => (o._2, o._3)).tail.map(o => (o._2, o._3))
      }
      cuts.groupBy(_._1).flatMap { case (id, ps) =>
        val sorted = ps.map(_._2).toSeq.sorted
        val spans = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
        sorted.foreach { p =>
          if (spans.nonEmpty && p <= spans.last._2) {
            val (s0, e0, k) = spans.last
            spans(spans.length - 1) = (s0, math.max(e0, p + W), k + 1)
          } else spans += ((p, p + W, 1L))
        }
        spans.map { case (s0, e0, k) => (id, s0, e0, k, e0 - s0) }
      }.toSet
    }
    val rnd = new scala.util.Random(42)
    val vocab = (1 to 12).map(i => s"w$i")
    (1 to 20).foreach { trial =>
      val corpus = (1L to 12L).map { id =>
        id -> (1 to (W + rnd.nextInt(3 * W)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val got = Dedup.passageCutsOf(corpus.toDF("doc_id", "text")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
          r.getAs[Long]("span_end"), r.getAs[Long]("n_windows"),
          r.getAs[Long]("n_tokens_cut"))).toSet
      assert(got == expected(corpus), s"trial $trial diverged")
    }
  }

  test("cuts applier emits the cleaned text the cut list plans (p16)") {
    // same fixture as the d16 excision test: doc 2's copy of the shared
    // passage and doc 3's second internal repeat are the only spans
    val P = (1 to 10).map(i => s"shared$i").mkString(" ")
    val Q = (1 to 8).map(i => s"rep$i").mkString(" ")
    val a = (1 to 5).map(i => s"a$i").mkString(" ")
    val z = (1 to 5).map(i => s"z$i").mkString(" ")
    val b = (1 to 5).map(i => s"b$i").mkString(" ")
    val y = (1 to 5).map(i => s"y$i").mkString(" ")
    val u = (1 to 20).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, "en", s"$a $P $z"), (2L, "en", s"$b $P $y"),
      (3L, "de", s"$Q filler1 filler2 $Q"), (4L, "de", u)
    ).toDF("doc_id", "lang", "text")
    val got = Sampling.applyCutsOf(docs, Dedup.passageCutsOf(docs))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens_clean"), r.getAs[String]("clean_text")))
      .toMap
    assert(got(1L) == (20L, s"$a $P $z"))       // canonical copy survives
    assert(got(2L) == (10L, s"$b $y"))          // span [5,15) excised
    assert(got(3L) == (10L, s"$Q filler1 filler2")) // second Q excised
    assert(got(4L) == (20L, u))                 // untouched
  }

  test("cuts applier empties a document that is one whole duplicate span") {
    val t = (1 to 10).map(i => s"c$i").mkString(" ")
    val docs = Seq((1L, "en", t), (2L, "en", t)).toDF("doc_id", "lang", "text")
    val got = Sampling.applyCutsOf(docs, Dedup.passageCutsOf(docs))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens_clean"), r.getAs[String]("clean_text")))
      .toMap
    assert(got(1L) == (10L, t) && got(2L) == (0L, ""))
  }

  test("cuts applier matches a plain-Scala mirror on random low-vocab corpora") {
    // the d16 mirror sweep, extended through APPLICATION: recompute
    // fingerprint→canonical→islands→span-removal from first principles
    // and compare the emitted text token-for-token
    val W = Dedup.PassageLen
    def expectedClean(corpus: Seq[(Long, String)]): Map[Long, (Long, String)] = {
      val wins = corpus.flatMap { case (id, text) =>
        val t = text.trim.toLowerCase.split("\\s+").toSeq
        if (t.length < W) Seq.empty
        else t.sliding(W).zipWithIndex
          .map { case (w, i) => (w.mkString(" "), id, i.toLong) }
      }
      val cutPos: Map[Long, Set[Long]] = wins.groupBy(_._1).values.flatMap { occ =>
        if (occ.size < 2) Seq.empty
        else occ.toSeq.sortBy(o => (o._2, o._3)).tail.map(o => (o._2, o._3))
      }.toSeq.groupBy(_._1).map { case (id, ps) =>
        id -> ps.flatMap { case (_, p) => p until (p + W) }.toSet
      }
      corpus.map { case (id, text) =>
        val t = text.trim.toLowerCase.split("\\s+").toSeq
        val cut = cutPos.getOrElse(id, Set.empty)
        val keep = t.zipWithIndex.collect {
          case (tok, i) if !cut.contains(i.toLong) => tok
        }
        id -> (keep.size.toLong, keep.mkString(" "))
      }.toMap
    }
    val rnd = new scala.util.Random(1843)
    val vocab = (1 to 12).map(i => s"w$i")
    (1 to 12).foreach { trial =>
      val corpus = (1L to 10L).map { id =>
        id -> (1 to (W + rnd.nextInt(3 * W)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val docs = corpus.map { case (id, t) => (id, "xx", t) }
        .toDF("doc_id", "lang", "text")
      val got = Sampling.applyCutsOf(docs, Dedup.passageCutsOf(docs))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_tokens_clean"), r.getAs[String]("clean_text")))
        .toMap
      assert(got == expectedClean(corpus), s"trial $trial diverged")
    }
  }

  test("p17 keeps one doc per near-dup cluster and re-cuts against survivors") {
    import graft.operators.Sampling
    val sf = "/root/testdata/sf0.001"
    val out = Sampling.corpusMaterialize(spark, sf).collect()
    val keptIds = out.map(_.getAs[Long]("doc_id")).toSet
    // every emitted doc is its d06 cluster's canonical keeper…
    val keepers = Dedup.clusters(spark, sf).collect()
      .filter(_.getAs[Boolean]("is_keeper")).map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds.subsetOf(keepers))
    // …and exactly the exact-text keepers among them survive
    import spark.implicits._
    val exactKeepers = Tables.table(spark, sf, "documents")
      .groupBy(md5(col("text"))).agg(min(col("doc_id")).as("k"))
      .select("k").as[Long].collect().toSet
    assert(keptIds == (keepers intersect exactKeepers))
  }

  test("p17 cut decisions are made against survivors, not the raw corpus") {
    import graft.operators.Sampling
    import spark.implicits._
    val P = (1 to 10).map(i => s"p$i").mkString(" ")
    val Q = (1 to 10).map(i => s"q$i").mkString(" ")
    def pad(pre: String) = (1 to 6).map(i => s"$pre$i").mkString(" ")
    val d1 = s"${pad("a")} $P ${pad("z")}"
    val docs = Seq(
      (1L, "en", d1),                       // keeper of near-dup pair {1,2}
      (2L, "en", s"${pad("a")} $P ${pad("y")}"), // dropped near-dup of 1
      (3L, "en", s"${pad("b")} $Q ${pad("c")}"), // shares Q with 4, kept
      (4L, "en", s"${pad("d")} $Q ${pad("e")}"), // kept; Q cut (copy of 3's)
      (5L, "en", "hi there"),               // tiny exact pair: 5 kept
      (6L, "en", "hi there")                //                  6 dropped
    ).toDF("doc_id", "lang", "text")
    val clusterTable = Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 3L, true),
      (4L, 4L, true), (5L, 5L, true), (6L, 6L, true)
    ).toDF("doc_id", "cluster", "is_keeper")
    val out = Sampling.corpusMaterializeOf(docs, clusterTable).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens_clean"), r.getAs[String]("clean_text")))
      .toMap
    assert(out.keySet == Set(1L, 3L, 4L, 5L))
    // P's only other copy lived in dropped doc 2 — doc 1 keeps it intact
    // (a raw-corpus cut list would have sliced one of the two copies)
    assert(out(1L) == (22L, d1))
    // Q still repeats among survivors — doc 4's copy is excised
    assert(out(3L) == (22L, s"${pad("b")} $Q ${pad("c")}"))
    assert(out(4L) == (12L, s"${pad("d")} ${pad("e")}"))
    assert(out(5L) == (2L, "hi there"))
  }

  test("p18 drops eval-overlapping train docs and keeps the unmeasurable") {
    import graft.operators.{Sampling, TextPrep}
    import spark.implicits._
    val e = "e1 e2 e3 e4 e5"
    val docs = Seq(
      (1L, "en", e),                                   // train: exact eval copy
      (2L, "en", "b1 b2 b3 b4 b5"),                    // train: unique
      (3L, "en", "hi there"),                          // train: shingle-less
      (4L, "en", (1 to 10).map(i => s"x$i").mkString(" ") + " e1 e2 e3"),
      (9L, "en", e)                                    // the eval doc
    ).toDF("doc_id", "lang", "text")
    val meta = docs.select(col("doc_id"), col("lang"),
      org.apache.spark.sql.functions.size(TextPrep.tokens(col("text")))
        .cast("long").as("n_tokens"))
    val splits = Seq(1L -> "train", 2L -> "train", 3L -> "train",
      4L -> "train", 9L -> "test").toDF("doc_id", "split")
    val shingled = docs.select(col("doc_id"),
      TextPrep.shingles(col("text")).as("sh"))
    val out = Sampling.trainDecontaminateOf(meta, splits, shingled)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_shingles"),
          r.getAs[Long]("n_shared_eval_shingles"))).toMap
    // doc 1 shares 3/3 shingles with the eval doc → dropped; doc 4 shares
    // only its last window (1/11 < 10%) → kept with the evidence attached
    assert(out.keySet == Set(2L, 3L, 4L))
    assert(out(2L) == (5L, 3L, 0L))
    assert(out(3L) == (2L, 0L, 0L)) // no shingles → overlap unmeasurable
    assert(out(4L) == (13L, 11L, 1L))
  }

  test("p16 emitted token mass equals d17 net_tokens per language exactly") {
    // plan (d17) and execution (p16) consume the same cut list, so the
    // accounting a data owner committed to must be the mass the writer
    // ships — token for token, on the live corpus
    val sf = "/root/testdata/sf0.001"
    val emitted = Sampling.applyCuts(spark, sf)
      .groupBy("lang").sum("n_tokens_clean")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val planned = Dedup.cutAccounting(spark, sf)
      .select("lang", "net_tokens")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(emitted == planned,
      s"writer/accounting drift: emitted=$emitted planned=$planned")
  }

  test("audio decimation conserves the energy split and halves the stream") {
    val sf = "/root/testdata/sf0.001"
    val full = Multimodal.audioStatsQuery(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_samples"), r.getAs[Int]("peak_abs"),
          r.getAs[Long]("sum_sq")))).toMap
    val dec = Multimodal.audioDecimateQuery(spark, sf).collect()
    assert(dec.nonEmpty && dec.length == full.size)
    dec.foreach { r =>
      val (n, peak, sq) = full(r.getAs[Long]("doc_id"))
      assert(r.getAs[Int]("n_samples_in") == n)
      // keep-every-2nd keeps ceil(n/2) samples
      assert(r.getAs[Int]("n_samples_out") == (n + 1) / 2)
      // decimation never invents signal: peak bounded by the full stream,
      // and kept + dropped energy is EXACTLY the full-stream energy
      assert(r.getAs[Int]("peak_out") <= peak)
      assert(r.getAs[Long]("sum_sq_out") + r.getAs[Long]("sum_sq_dropped") == sq)
    }
  }

  test("lsh tuning audit: more bands never lose candidates or recall") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.lshTuningAudit(spark, sf).orderBy("n_bands").collect()
    assert(rows.map(r => (r.getAs[Int]("n_bands"), r.getAs[Int]("rows_per_band")))
      .toSeq == Dedup.LshTuningGrids.sortBy(_._1))
    rows.foreach { r =>
      val cand = r.getAs[Long]("n_candidates")
      val ver = r.getAs[Long]("n_verified")
      assert(ver <= cand)
      val p = r.getAs[Double]("candidate_precision")
      assert(p >= 0.0 && p <= 1.0)
      if (cand > 0) assert(p == ver.toDouble / cand)
    }
    // banding theory: a grid with more (shorter) bands collides strictly
    // more often — every (2,8) band key is a refinement of an (8,2) one,
    // so candidate sets and verified-pair sets grow with n_bands
    val cands = rows.map(_.getAs[Long]("n_candidates"))
    val vers = rows.map(_.getAs[Long]("n_verified"))
    assert(cands.zip(cands.tail).forall { case (a, b) => a <= b })
    assert(vers.zip(vers.tail).forall { case (a, b) => a <= b })
  }

  test("d15 marks the declared arg-max recommended and d02 accepts the grid") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.lshTuningAudit(spark, sf).collect().toSeq
    assert(rows.count(_.getAs[Boolean]("recommended")) == 1)
    // plain-Scala mirror of the declared rule: cheapest grid retaining
    // ≥ SweepRetention of the best verified count
    val qmax = rows.map(_.getAs[Long]("n_verified")).max.toDouble
    val want = rows.sortBy(r => (
      if (r.getAs[Long]("n_verified") >= Dedup.SweepRetention * qmax) 0 else 1,
      r.getAs[Long]("n_candidates"), r.getAs[Int]("n_bands"))).head
    val rec = rows.find(_.getAs[Boolean]("recommended")).get
    assert(rec.getAs[String]("grid") == want.getAs[String]("grid"))

    // consumption seam: the helper surfaces the same grid, and d02 at
    // that grid emits only verified pairs
    val (nb, rpb) = Dedup.recommendedLshGrid(spark, sf)
    assert((nb, rpb) ==
      (rec.getAs[Int]("n_bands"), rec.getAs[Int]("rows_per_band")))
    Dedup.minhashLsh(spark, sf, nb, rpb).collect()
      .foreach(p =>
        assert(p.getAs[Double]("jaccard") >= Dedup.JaccardThreshold))

    // the parameterized path at the compiled-in default grid IS d02
    val viaParams = Dedup.minhashLsh(spark, sf, Dedup.Bands, Dedup.RowsPerBand)
      .collect().map(_.toString).sorted.toSeq
    val viaDefault = Dedup.minhashLsh(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(viaParams == viaDefault)
  }

  test("encoding scan flags each artifact class; clean unicode prose " +
      "passes (t20)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "café résumé naïve"), // real accents: clean
      (2L, "broken � twice � here"),       // replacement chars
      (3L, "cafÃ© was cp1252-decoded"),    // Ã© mojibake pair
      (4L, "itâ€™s a smart quote"),   // â€™ mojibake
      (5L, "latin1 c1: \u0085 and \u0093"),          // C1 controls
      (6L, "binary\u0000spill\u0007age"),            // raw control chars
      (7L, "tabs\tand\nnewlines are fine")           // allowed whitespace
    ).toDF("doc_id", "text")
    val got = TextAnalysis.encodingScanOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def counts(id: Long) = {
      val r = got(id)
      (r.getAs[Long]("n_replacement"), r.getAs[Long]("n_c1_controls"),
        r.getAs[Long]("n_ctrl_chars"), r.getAs[Long]("n_mojibake_sigs"),
        r.getAs[Boolean]("is_clean"))
    }
    assert(counts(1L) == (0L, 0L, 0L, 0L, true),
      "real accented text must not be flagged")
    assert(counts(2L) == (2L, 0L, 0L, 0L, false))
    assert(counts(3L) == (0L, 0L, 0L, 1L, false))
    assert(counts(4L) == (0L, 0L, 0L, 1L, false))
    assert(counts(5L) == (0L, 2L, 0L, 0L, false))
    assert(counts(6L) == (0L, 0L, 2L, 0L, false))
    assert(counts(7L) == (0L, 0L, 0L, 0L, true),
      "tab/newline/CR are whitespace, not binary spillage")
  }

  test("template-skeleton dedup groups payload variants the exact " +
      "ladder misses, and excludes exact-dup-only families (d24)") {
    import spark.implicits._
    val docs = Seq(
      // one template family: same skeleton, three distinct payloads
      (1L, "Order #123 shipped to Berlin!"),
      (2L, "Order #99 shipped to Austin!"),
      (3L, "Order #4711 shipped to Lyon!"),
      // exact duplicates only: same skeleton AND same text -> excluded
      (4L, "hello world."),
      (5L, "hello world."),
      // singleton: excluded
      (6L, "something (entirely) different?")
    ).toDF("doc_id", "text")
    val fams = Dedup.skeletonDedupOf(docs).collect()
    assert(fams.length == 1)
    val f = fams.head
    assert(f.getAs[Long]("rep_id") == 1L)
    assert(f.getAs[Long]("n_docs") == 3L)
    assert(f.getAs[Long]("n_distinct_texts") == 3L)
    // skeleton of "Order #123 shipped to Berlin!" -> "# ## # # #!"
    assert(f.getAs[Long]("skeleton_chars") ==
      "# ## # # #!".length.toLong)
    // corpus sanity: every reported family has >= 2 docs and >= 2 texts
    Dedup.skeletonDedup(spark, "/root/testdata/sf0.001").collect().foreach { r =>
      assert(r.getAs[Long]("n_docs") >= r.getAs[Long]("n_distinct_texts"))
      assert(r.getAs[Long]("n_distinct_texts") >= 2L)
    }
  }

  test("pad-vs-pack audit: token accounting closes on both layouts (p21)") {
    val sf = "/root/testdata/sf0.001"
    val rows = Sampling.paddingAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, nt) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))
      val bins = r.getAs[Long]("packed_bins")
      // packed side: waste is exactly the unfilled window tail
      assert(r.getAs[Long]("packed_waste_tokens") ==
        bins * Sampling.ContextLen - nt)
      // padded side: kept + truncated == corpus, kept + waste == budget
      val kept = nd * Sampling.PadMaxLen - r.getAs[Long]("pad_waste_tokens")
      assert(kept + r.getAs[Long]("trunc_loss_tokens") == nt)
      val pu = r.getAs[Double]("padded_util")
      assert(pu > 0.0 && pu <= 1.0)
      assert(math.abs(pu - kept.toDouble /
        (nd * Sampling.PadMaxLen)) < 1e-12)
      val ku = r.getAs[Double]("packed_util")
      assert(ku > 0.0 && ku <= 1.0)
    }
    // the packed-bin counts agree with p10's independent rollup
    val p10 = Sampling.packingEfficiency(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_bins")).toMap
    rows.foreach(r => assert(
      r.getAs[Long]("packed_bins") == p10(r.getAs[String]("lang"))))
  }

  test("modality pushdown: the parity cut partitions the corpus exactly") {
    val sf = "/root/testdata/sf0.001"
    def key(a: Multimodal.MediaAsset) =
      a.doc_id -> ((a.media_type, java.util.Arrays.hashCode(a.payload)))
    val all = Multimodal.assets(spark, sf).collect().map(key).toMap
    val bmp = Multimodal.bmpAssets(spark, sf).collect()
    val wav = Multimodal.wavAssets(spark, sf).collect()
    // every pre-synthesis-filtered asset is the modality its consumer keeps,
    // and the two cuts tile the full corpus byte-for-byte
    assert(bmp.nonEmpty && bmp.forall(_.media_type == "image/bmp"))
    assert(wav.nonEmpty && wav.forall(_.media_type == "audio/wav"))
    assert(bmp.length + wav.length == all.size)
    (bmp ++ wav).foreach(a => assert(key(a)._2 == all(a.doc_id)))
  }

  test("fused feature+ahash pass is bit-identical to the composed passes") {
    val sf = "/root/testdata/sf0.001"
    val fused = Multimodal.imageFeatureAhash(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getSeq[Float](r.fieldIndex("embedding")).toVector,
          r.getAs[String]("ahash")))).toMap
    val feats = Multimodal.imageFeatures(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toVector).toMap
    val hashes = Multimodal.imageAhash(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("ahash")).toMap
    assert(fused.nonEmpty)
    assert(fused.keySet == feats.keySet && fused.keySet == hashes.keySet)
    fused.foreach { case (id, (emb, ah)) =>
      assert(emb == feats(id), s"embedding drift at vec $id")
      assert(ah == hashes(id), s"ahash drift at vec $id")
    }
  }
}
