package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every SparkEntry
  * query on SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query executes to completion through a `noop` write — unlike
  * `count()`, this materializes every output column, so Catalyst cannot
  * shortcut the work being measured. AQE is on (runtime partition
  * coalescing + skew handling), matching how the engine would run on a
  * real cluster.
  */
object Bench {

  /** Per-query seconds from the previous round, so each round's JSON
    * carries mechanical deltas (VERDICT r01 item 9, regressed r03).
    * Preference order:
    *
    *   1. the newest committed `BENCH_LOCAL_r{N}.json` snapshot — the FULL
    *      line Bench wrote at the end of that round (the workdir
    *      `BENCH_LOCAL.json` is snapshotted+committed at the END of round
    *      N, so the snapshot round matches the driver file round);
    *   2. whichever of the next two recovered MORE queries (ties → the
    *      driver file, the canonical artifact):
    *      a. the newest driver `BENCH_r{N}.json`: its `parsed` field, else
    *         the JSON line inside its `tail`, else — because the driver
    *         FRONT-truncates the tail to 2 kB, which is what silently
    *         emptied the r03 deltas — scavenge every complete
    *         `"name":seconds` pair from the surviving fragment;
    *      b. the workdir `BENCH_LOCAL.json` itself — the FULL line the
    *         previous round's bench run left behind (r7 lesson: a stall
    *         round commits no numbered snapshot, and the truncated tail
    *         recovers ~15% of the map while the full line sits on disk
    *         unread). Guarded by an `"sf"` match against the current
    *         target dir so a mid-round local run at another SF can't pose
    *         as previous-round numbers;
    *
    * An empty result warns loudly on stderr instead of passing `{}` off as
    * a clean diff; main() also emits `prev_n` so the JSON is self-auditing.
    */
  private[graft] def previousBench(
      searchDirs: Seq[java.io.File] =
        Seq(new java.io.File("."), new java.io.File("/root/repo"))
  ): (String, Map[String, Double]) = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val mapper = new ObjectMapper()
    def queriesOf(n: JsonNode): Map[String, Double] =
      if (n != null && n.has("queries"))
        n.get("queries").properties().asScala
          .map(e => e.getKey -> e.getValue.asDouble())
          .filter(_._2 > 0) // -1.0 = "failed that round", not a time
          .toMap
      else Map.empty
    def newest(pattern: String): Option[java.io.File] =
      searchDirs
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .filter(_.getName.matches(pattern))
        .distinct
        .sortBy(f => "\\d+".r.findFirstIn(f.getName).map(_.toInt).getOrElse(0))
        .lastOption
    def scavenge(tail0: String): Map[String, Double] = {
      // The bench line is queries-first, then spread/corpus/stream_eps/
      // sweep/deltas. The queries_spread_sec and prev_delta_sec entries
      // use the SAME query-name keys, so scavenging the whole fragment
      // would overwrite real seconds with spread/delta values
      // (findAllMatchIn.toMap keeps the LAST occurrence). Cut at the first
      // post-queries field before matching; a fragment that starts inside
      // the later maps then yields nothing — a loud warning beats wrong
      // data.
      val cut = Seq("\"queries_spread_sec\"", "\"queries_n_samples\"",
          "\"corpus\"",
          "\"stream_eps\"", "\"batch_size_sweep\"", "\"prev\"",
          "\"prev_delta_sec\"")
        .map(tail0.indexOf).filter(_ >= 0)
      val tail = if (cut.isEmpty) tail0 else tail0.take(cut.min)
      val names = SparkEntry.queries.keySet
      "\"([a-z0-9_]+)\":([0-9]+\\.[0-9]+)".r.findAllMatchIn(tail)
        .collect { case m if names.contains(m.group(1)) =>
          m.group(1) -> m.group(2).toDouble }
        .toMap
    }
    def roundOf(name: String): Int =
      "\\d+".r.findFirstIn(name).map(_.toInt).getOrElse(0)
    val snapshot = newest("BENCH_LOCAL_r\\d+\\.json").flatMap { f =>
      try Some((f.getName, queriesOf(mapper.readTree(f))))
      catch { case _: Throwable => None }
    }.filter(_._2.nonEmpty)
    // the un-numbered workdir snapshot: Bench always persists its full
    // line here, so at the next round's previousBench() call this IS the
    // previous round — unless a local iteration run at a different SF
    // overwrote it, hence the sf guard.
    val expectedSf =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workdir = searchDirs
      .map(d => new java.io.File(d, "BENCH_LOCAL.json")).find(_.isFile)
      .flatMap { f =>
        try {
          val root = mapper.readTree(f)
          val sfOk = Option(root.get("sf")).map(_.asText("")).contains(expectedSf)
          if (sfOk) Some((f.getName, queriesOf(root))) else None
        } catch { case _: Throwable => None }
      }.filter(_._2.nonEmpty)
    // prefer the snapshot while it is at least as recent as the newest
    // driver file — a missed snapshot commit must not silently produce
    // two-rounds-old deltas presented as previous-round ones. BUT (r04
    // lesson, VERDICT r04 item 1): when the driver file's per-query times
    // are unrecoverable (its tail is front-truncated past the queries
    // section), a round-(N−1) snapshot is still the best available data —
    // stale-but-correctly-labeled beats empty. `prev` always carries the
    // real source file name, so a stale fallback is self-describing.
    val newestDriverRound =
      newest("BENCH_r\\d+\\.json").map(f => roundOf(f.getName)).getOrElse(0)
    val fromDriver = newest("BENCH_r\\d+\\.json").map { f =>
      try {
        val root = mapper.readTree(f)
        val direct = queriesOf(root) ++ queriesOf(root.get("parsed"))
        val tail = Option(root.get("tail")).map(_.asText("")).getOrElse("")
        val viaTail =
          if (direct.nonEmpty) Map.empty[String, Double]
          else {
            val i = tail.indexOf("{\"metric\"")
            if (i >= 0) {
              val j = tail.indexOf('\n', i)
              val line = if (j < 0) tail.substring(i) else tail.substring(i, j)
              try queriesOf(mapper.readTree(line.trim))
              catch { case _: Throwable => scavenge(tail) }
            } else scavenge(tail) // front-truncated: recover the fragment
          }
        (f.getName, direct ++ viaTail)
      } catch { case _: Throwable => (f.getName, Map.empty[String, Double]) }
    }
    // between the driver file and the workdir line, take whichever
    // recovered MORE queries (ties → the driver file, the canonical
    // artifact): a full workdir line beats a truncated 18-query tail, but
    // a fully-parsed driver file is never outranked by a same-size copy
    val driverFull = fromDriver.filter(_._2.nonEmpty)
    val best = (driverFull, workdir) match {
      case (Some(d), Some(w)) => Some(if (w._2.size > d._2.size) w else d)
      case (d, w) => d.orElse(w)
    }
    val (name, prev) = snapshot.filter(s => roundOf(s._1) >= newestDriverRound)
      .orElse(best)
      .orElse(snapshot) // stale snapshot: last resort, labeled by file name
      .getOrElse(("", Map.empty[String, Double]))
    if (prev.isEmpty)
      System.err.println(
        "[bench] WARNING: no previous-round per-query times found " +
          s"(source='$name') — prev_delta_sec will be empty")
    (name, prev)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    // Per-query codegen warmup at the smallest SF: the expression trees are
    // identical across SFs, so Janino's cache makes the target-SF run pay
    // execution, not compilation. First-run codegen (2–11 s for the big
    // minhash/IVF trees) is a per-process constant, not a property of the
    // engine at scale, and it was the dominant run-to-run noise source.
    val warmDir = "/root/testdata/sf0.001"
    val doWarm = new java.io.File(warmDir).isDirectory && warmDir != sfDir

    // This host shows double-digit CPU-steal percentages in MINUTE-scale
    // windows: r02 recorded 27 s for a query whose steady state is 1.6 s
    // because BOTH of its back-to-back min-of-2 runs sat inside one steal
    // window. Defense: time the whole pack in three SEPARATED passes (each
    // pass runs every query once, so a steal window shorter than a pass
    // poisons at most one sample per query) and report the per-query
    // MEDIAN — robust to one poisoned sample — plus the max−min spread,
    // so round-over-round movement is attributable: wide spread =
    // environment noise, tight spread with a moved median = a real
    // plan/data change (VERDICT r05 item 1).
    def timed(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // JVM/codegen warmup outside the measurement: without this the first
    // measured query pays classloading + whole-stage-codegen compiler
    // startup (~2-3 s) that belongs to the process, not the query.
    spark.range(1L << 20).selectExpr("sum(id) s", "count(distinct id % 7) c")
      .write.format("noop").mode("overwrite").save()

    // --- host-speed calibration probes (VERDICT r14 item 2) -------------
    // Two consecutive rounds of uniform driver-side dips were adjudicated
    // host noise from README evidence; these put the adjudication IN the
    // artifact. Both probes are FIXED work — their wall time is a pure
    // function of host speed/steal, never of engine changes — so a round
    // whose queries and probes moved by the same ratio is a host shift,
    // and a round whose queries moved against still probes is a code
    // change. calib_cpu = single-threaded FNV-1a over 2^27 longs (raw
    // per-core speed incl. CPU steal); calib_spark = a fixed 2^27-row
    // codegen aggregate through the same noop sink as the queries (the
    // 32-thread fabric: scheduler + codegen + memory). Three samples
    // before the pack and three after (conditions drift over a ~25-min
    // run); the JSON carries the overall median plus the start/end
    // medians so drift WITHIN the run is visible too.
    def calibCpuOnce(): Double = {
      val t0 = System.nanoTime()
      var h = 0xcbf29ce484222325L
      var i = 0L
      while (i < (1L << 27)) {
        h ^= i; h *= 0x100000001b3L; i += 1
      }
      if (h == 42L) System.err.println("") // keep the loop un-eliminable
      (System.nanoTime() - t0) / 1e9
    }
    def calibSparkOnce(): Double = {
      val t0 = System.nanoTime()
      // modulo before the sum: 2^27 raw xxhash64 longs overflow an ANSI
      // sum; bounded residues keep the hash work and never overflow
      spark.range(1L << 27)
        .selectExpr("sum(xxhash64(id) % 1048576) h", "count(id) c")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median3(f: () => Double): Double =
      Vector.fill(3)(f()).sorted.apply(1)
    calibCpuOnce(); calibSparkOnce() // warm the probes themselves
    val calibCpuStart = median3(calibCpuOnce _)
    val calibSparkStart = median3(calibSparkOnce _)

    if (doWarm) SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // Deploy-time artifact publication (VERDICT r11 item 4): the frozen
    // quantizers the sNNc audit variants read belong to the deployed
    // index generation, built when it shipped — not inside a measured
    // audit run. Publishing here (idempotent, fingerprint-keyed) mirrors
    // that: on a regenerated corpus the one-time build lands in the
    // warmup, and all five measured passes run warm.
    try graft.operators.Similarity.publishArtifacts(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact publication failed: ${e.getMessage}")
    }
    val passes =
      Vector.fill(3)(SparkEntry.queries.map { case (n, fn) => n -> timed(n, fn) })
    val querySamples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    SparkEntry.queries.keys.foreach { n =>
      querySamples(n) = passes.map(_(n)).filter(_ >= 0)
    }
    def medianOf(ss0: Vector[Double]): Double = {
      val ss = ss0.sorted
      if (ss.isEmpty) -1.0
      else if (ss.size % 2 == 1) ss(ss.size / 2)
      else (ss(ss.size / 2 - 1) + ss(ss.size / 2)) / 2
    }
    // spread measure for the pack: plain max−min over the 3 passes, but
    // once top-up samples exist the single max is dropped (a steal
    // window only ever ADDS time to a query) and at 5 samples the min
    // too (the stream protocol's middle-3). Without the trim, max−min
    // over a growing sample set is monotone non-decreasing — a poisoned
    // sample could never be quieted, only re-measured around.
    def querySpread(ss0: Vector[Double]): Double = {
      val ss = ss0.filter(_ >= 0).sorted
      if (ss.isEmpty) -1.0
      else {
        val core =
          if (ss.size >= 5) ss.slice(1, ss.size - 1)
          else if (ss.size == 4) ss.take(3)
          else ss
        core.max - core.min
      }
    }
    // per-query quiet-window top-up, the stream protocol's rule applied
    // to the pack: a query whose 3-pass spread exceeds max(0.4 s, 30% of
    // its median) straddled a noisy window (r11's q23_cube carried a
    // 10.6 s spread from ONE poisoned sample) — take up to 2 extra
    // samples so the median and trimmed spread settle; a query still
    // wide after the budget is reported wide rather than re-rolled
    // until it looks tight.
    SparkEntry.queries.foreach { case (name, fn) =>
      var extra = 0
      def wide: Boolean = {
        val ss = querySamples(name)
        val med = medianOf(ss)
        ss.nonEmpty && med > 0 &&
          querySpread(ss) > math.max(0.4, 0.3 * med)
      }
      while (extra < 2 && wide) {
        val t = timed(name, fn)
        if (t >= 0) querySamples(name) = querySamples(name) :+ t
        extra += 1
      }
      if (extra > 0) {
        val ss = querySamples(name)
        System.err.println(f"[bench] $name quiet-window top-up: $extra " +
          f"extra samples, spread ${querySpread(ss)}%.2f s on median " +
          f"${medianOf(ss)}%.2f s")
      }
    }
    def samplesOf(name: String): Vector[Double] =
      querySamples(name).sorted
    val results = SparkEntry.queries.map { case (name, _) =>
      name -> medianOf(samplesOf(name))
    }
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val spreadJson = SparkEntry.queries.keys.map { name =>
      "\"" + name + "\":" + f"${querySpread(samplesOf(name))}%.3f"
    }.mkString("{", ",", "}")
    // the spread statistic changes with sample count (3: full range;
    // 4: max-trimmed; 5+: min+max-trimmed), so the per-query count is
    // recorded alongside — without it, spreads are not comparable
    // across queries that took different top-up counts or across
    // rounds that changed the protocol (ADVICE r12).
    val sampleCountJson = SparkEntry.queries.keys.map { name =>
      "\"" + name + "\":" + samplesOf(name).size
    }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // Corpus density stats: the fixture corpus regenerates per round, and
    // r05's d02 +66% was candidate-pair density, not a plan change. One
    // line of corpus shape makes that distinction checkable from the
    // bench JSON alone.
    val corpusJson = try {
      val d = Tables.table(spark, sfDir, "documents")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.length(
              org.apache.spark.sql.functions.col("text")))).head()
      val pairs = graft.operators.Dedup.minhashLsh(spark, sfDir).count()
      val emb = Tables.table(spark, sfDir, "embeddings").count()
      s""","corpus":{"docs":${d.getLong(0)},"text_chars":${d.getLong(1)},""" +
        s""""neardup_pairs":$pairs,"embeddings":$emb}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] corpus stats failed: ${e.getMessage}")
      ""
    }
    // streaming throughput (events/sec through the full CDC pipeline) —
    // comparable to the reference's 1,200 eps sustained baseline.
    // INTERLEAVED median-of-5 (VERDICT r11 item 3): the old protocol ran
    // each metric's 3 samples back-to-back, so one minute-scale CPU-steal
    // window poisoned ALL of a metric's samples at once — spreads landed
    // at ±30% of medians (commitlog ±3,760 on 12,302) and a real 15%
    // regression was indistinguishable from noise. Now five separated
    // passes each run EVERY stream metric once (the query pack's pass
    // protocol applied to streams): any window shorter than a pass
    // poisons at most one sample per metric. Median over all 5 samples;
    // the reported spread is over the middle THREE (min and max trimmed
    // — first-pass one-time costs like streaming-plan codegen and
    // artifact loads land in the trimmed max), so spread measures
    // steady-state repeatability, the regression-detection signal.
    val streamMetrics: Seq[(String, () => Double)] = Seq(
      "stream_eps" ->
        (() => graft.streaming.ThroughputBench.run(spark)),
      // 3-destination fan-out, the reference's multi-dest benchmark shape
      "stream_eps_multi" ->
        (() => graft.streaming.ThroughputBench.runMulti(spark)),
      // framed-binary commitlog ingest — the reference's real entry point
      "stream_eps_commitlog" ->
        (() => graft.streaming.ThroughputBench.runCommitlog(spark)),
      // ANN serving: full two-stage retrieval per arriving query batch
      "stream_qps_ann" ->
        (() => graft.streaming.ThroughputBench.runAnnServe(spark, sfDir)),
      // ANN index maintenance: mixed I/U/D change feed through the CDC
      // maintainer (LWW + frozen-artifact encode + versioned append)
      "stream_vps_index_cdc" ->
        (() => graft.streaming.ThroughputBench.runIndexCdc(spark, sfDir)),
      // visual/audio-index maintenance: raw docs decoded + featurized +
      // applied to the m11/m13-grid index per micro-batch
      "stream_ips_visual" ->
        (() => graft.streaming.ThroughputBench.runVisualIngest(spark, sfDir)),
      "stream_ips_audio" ->
        (() => graft.streaming.ThroughputBench.runAudioIngest(spark, sfDir)))
    def runStream(label: String, f: () => Double): Double =
      try f()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label failed: ${e.getMessage}")
        -1.0
      }
    val streamSamples =
      scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
    (1 to 5).foreach { _ =>
      streamMetrics.foreach { case (label, f) =>
        streamSamples(label) = streamSamples(label) :+ runStream(label, f)
      }
    }
    def trimmedStat(ss0: Vector[Double]): (Double, Double) = {
      val ss = ss0.filter(_ >= 0).sorted
      if (ss.isEmpty) (-1.0, -1.0)
      else {
        val med =
          if (ss.size % 2 == 1) ss(ss.size / 2)
          else (ss(ss.size / 2 - 1) + ss(ss.size / 2)) / 2
        val core = if (ss.size >= 5) ss.slice(1, ss.size - 1) else ss
        (med, core.max - core.min)
      }
    }
    // quiet-window top-up (the round-6 query protocol applied per
    // stream metric): a metric whose trimmed spread still exceeds 10%
    // of its median after the interleaved passes takes up to 4 extra
    // samples — the median over 6-9 samples absorbs a noisy window the
    // five passes happened to straddle, and a metric that stays wide
    // after the budget is reported wide (honest) rather than re-rolled
    // until it looks tight.
    val QuietSpreadFrac = 0.10
    val MaxExtraSamples = 4
    streamMetrics.foreach { case (label, f) =>
      var extra = 0
      var (med, spread) = trimmedStat(streamSamples(label))
      while (extra < MaxExtraSamples && med > 0 &&
        spread > QuietSpreadFrac * med) {
        streamSamples(label) = streamSamples(label) :+ runStream(label, f)
        extra += 1
        val st = trimmedStat(streamSamples(label)); med = st._1; spread = st._2
      }
      if (extra > 0)
        System.err.println(f"[bench] $label quiet-window top-up: $extra " +
          f"extra samples, spread ${spread}%.0f on median ${med}%.0f")
    }
    def streamStat(label: String): (Double, Double) =
      trimmedStat(streamSamples(label))
    val (eps, epsSpread) = streamStat("stream_eps")
    val (epsMulti, epsMultiSpread) = streamStat("stream_eps_multi")
    val (epsClog, epsClogSpread) = streamStat("stream_eps_commitlog")
    val (qpsAnn, qpsAnnSpread) = streamStat("stream_qps_ann")
    val (vpsIdx, vpsIdxSpread) = streamStat("stream_vps_index_cdc")
    val (ipsVisual, ipsVisualSpread) = streamStat("stream_ips_visual")
    val (ipsAudio, ipsAudioSpread) = streamStat("stream_ips_audio")
    val streamSpreadJson =
      f""""stream_protocol":"median-of-5-interleaved, trimmed spread","stream_spread":{"stream_eps":$epsSpread%.0f,"stream_eps_multi":$epsMultiSpread%.0f,"stream_eps_commitlog":$epsClogSpread%.0f,"stream_qps_ann":$qpsAnnSpread%.0f,"stream_vps_index_cdc":$vpsIdxSpread%.0f,"stream_ips_visual":$ipsVisualSpread%.0f,"stream_ips_audio":$ipsAudioSpread%.0f}"""
    // events-per-trigger sweep (reference batch-size optimization analog)
    val sweep =
      try graft.streaming.ThroughputBench.batchSizeSweep(spark)
      catch { case e: Throwable =>
        System.err.println(s"[bench] batch_size_sweep failed: ${e.getMessage}")
        Nil
      }
    val sweepJson = sweep
      .map { case (size, v) => "\"" + size + "\":" + f"$v%.0f" }
      .mkString("{", ",", "}")
    val sweepOptimal =
      if (sweep.isEmpty) 0 else sweep.maxBy(_._2)._1
    // connected-components diagnostics (VERDICT r12 item 3): the d06/
    // d25/q68 family is the only one whose quiet-window spread does not
    // settle. Its root cause (OPTIMIZATION_r17.md, cc family): the
    // fixpoint ROUND COUNT is constant for a fixed corpus (2 at sf0.1,
    // logged here per round as proof), and each round is a chain of
    // short jobs (2 shuffle joins + eager localCheckpoint + count ≈
    // 0.33 s/round on 5k rows — fixed scheduling cost, not data), so the
    // bench-time spread is ambient jitter amplified across ~10 short
    // jobs while the pack contends for cores — quiet-machine full-run
    // spread is ±0.3 s over 8 reps.
    // A regression in THIS family would surface as a moved cc_rounds or
    // cc_prop_sec, not in the pack spread.
    val ccJson = try {
      val pairs = graft.operators.Dedup.minhashLsh(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("da"),
          org.apache.spark.sql.functions.col("db")).persist()
      try {
        pairs.count()
        val nodes = Tables.table(spark, sfDir, "documents").select("doc_id")
        val t0 = System.nanoTime()
        val (labels, rounds) =
          graft.operators.Dedup.propagateMinLabels(nodes, pairs)
        labels.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        f""","cc_rounds":$rounds,"cc_prop_sec":$secs%.3f"""
      } finally pairs.unpersist()
      // finally: the catch below swallows the error, and a cached frame
      // leaked past it would rewrite later queries' plans (leak audit)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] cc probe failed: ${e.getMessage}")
      ""
    }
    // state-size audit (VERDICT r12 item 4): final state rows/bytes of
    // each TTL-bounded twin after key-disjoint waves with the TTL
    // expiring between them — the 100 TB streaming story measured, not
    // argued. Bounded ⇒ rows stay O(one wave); the spec asserts the
    // bound, the bench RECORDS the numbers per round.
    val stateJson = try {
      val ts = graft.streaming.StateAudit.run(spark)
      val rows = ts.map(t => "\"" + t.twin + "\":" + t.rowsFinal)
        .mkString("{", ",", "}")
      val bytes = ts.map(t => "\"" + t.twin + "\":" + t.bytesFinal)
        .mkString("{", ",", "}")
      val wave1 = ts.map(t => "\"" + t.twin + "\":" + t.rowsWave1)
        .mkString("{", ",", "}")
      s""","state_rows":$rows,"state_bytes":$bytes,"state_rows_wave1":$wave1"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] state audit failed: ${e.getMessage}")
      ""
    }
    // end-of-run calibration (same probes): drift between the start and
    // end medians bounds how much the host moved DURING the run
    val calibCpuEnd = median3(calibCpuOnce _)
    val calibSparkEnd = median3(calibSparkOnce _)
    def med2(a: Double, b: Double): Double = (a + b) / 2
    // the normalized comparison fields (VERDICT r15 item 5): divide the
    // pack total by the fixed-work Spark probe (both in seconds of THIS
    // host, so the quotient is host-speed-free), and scale each
    // throughput by the same probe (events per probe-unit of work).
    // Decision rule (also in README): compare pack_per_calib round over
    // round — a moved raw total with a flat pack_per_calib is host
    // drift; a moved pack_per_calib is a code/data change to chase.
    val calibSpark = med2(calibSparkStart, calibSparkEnd)
    val normJson = if (calibSpark <= 0) "" else {
      val streams = Seq("stream_eps" -> eps, "stream_eps_multi" -> epsMulti,
        "stream_eps_commitlog" -> epsClog)
        .map { case (n, v) =>
          "\"" + n + "_per_calib\":" + f"${v * calibSpark}%.0f" }
        .mkString(",")
      f""","pack_per_calib":${total / calibSpark}%.1f,$streams"""
    }
    val calibJson =
      f""","calib_cpu_sec":${med2(calibCpuStart, calibCpuEnd)}%.3f,"calib_spark_sec":$calibSpark%.3f,"calib_cpu_start_end":[$calibCpuStart%.3f,$calibCpuEnd%.3f],"calib_spark_start_end":[$calibSparkStart%.3f,$calibSparkEnd%.3f]$normJson"""

    // deltas vs previous round (positive = slower than last round)
    val (prevName, prevQ) = previousBench()
    val deltas = results.collect {
      case (k, v) if v >= 0 && prevQ.contains(k) =>
        "\"" + k + "\":" + f"${v - prevQ(k)}%.3f"
    }.mkString("{", ",", "}")
    val prevN = results.count { case (k, v) => v >= 0 && prevQ.contains(k) }
    val prevJson =
      s""","prev":"$prevName","prev_n":$prevN,"prev_delta_sec":$deltas"""
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","protocol":"median-of-3+quiet-window","queries":$qs,"queries_spread_sec":$spreadJson,"queries_n_samples":$sampleCountJson$corpusJson$calibJson,"stream_eps":$eps%.0f,"stream_eps_multi":$epsMulti%.0f,"stream_eps_commitlog":$epsClog%.0f,"stream_qps_ann":$qpsAnn%.0f,"stream_vps_index_cdc":$vpsIdx%.0f,"stream_ips_visual":$ipsVisual%.0f,"stream_ips_audio":$ipsAudio%.0f,$streamSpreadJson,"batch_size_sweep":$sweepJson,"batch_size_optimal":$sweepOptimal$ccJson$stateJson,"sf":"$sfDir","warmup":${if (doWarm) "\"per-query sf0.001\"" else "null"}$prevJson}"""
    // Stdout protocol (VERDICT r08 item 2): the driver FRONT-truncates its
    // stdout tail to 2,000 chars, and the full line above is ~8 kB — four
    // rounds of `"parsed": null` because only a mid-line fragment
    // survived. So the full per-query line prints FIRST (and persists to
    // BENCH_LOCAL.json, which the committed BENCH_LOCAL_r{N} snapshots
    // carry forward), and stdout ENDS with a compact summary line —
    // headline total, the three streaming rates, sweep optimum — that
    // fits the tail whole. Its `{"metric"` prefix is the first such
    // marker in the surviving tail (the big line's own prefix is cut),
    // so the driver's tail-parse finds a complete JSON object.
    println(line)
    // belt-and-braces: the driver's r01 record shows its stdout parse can
    // fail on sbt log prefixes ("parsed": null) — persist the same line.
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    val nFailed = results.values.count(_ < 0)
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","protocol":"median-of-3+quiet-window","n_queries":${results.size},"n_failed":$nFailed$calibJson,"stream_eps":$eps%.0f,"stream_eps_multi":$epsMulti%.0f,"stream_eps_commitlog":$epsClog%.0f,"stream_qps_ann":$qpsAnn%.0f,"stream_vps_index_cdc":$vpsIdx%.0f,"stream_ips_visual":$ipsVisual%.0f,"stream_ips_audio":$ipsAudio%.0f,"batch_size_optimal":$sweepOptimal,"sf":"$sfDir","detail":"BENCH_LOCAL.json"}"""
    println(compact)
    spark.stop()
  }
}
