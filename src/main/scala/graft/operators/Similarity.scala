package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two paths (north-star surface per BASELINE.json):
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    O(Q·N) pairs; at 100 TB this is what you run for a small query set
  *    against a broadcast of the queries, never all-pairs.
  *  - [[annLsh]]: random-hyperplane LSH — sign-pattern bucketing shrinks
  *    the candidate set to same-bucket vectors; the scale path. Hyperplane
  *    weights are md5-derived pseudo-random integers generated IN-ENGINE,
  *    so the DuckDB oracle reproduces them bit-for-bit.
  *
  * All dot products run in exact DECIMAL (order-independent), surfacing as
  * doubles only at the boundary — engine-exact scores, stable ranks (ties
  * broken by vec_id).
  */
object Similarity {
  import Dedup.{dec, dotDec, normD}

  val NumQueries = 10 // vec_id < 10 are the query vectors
  val TopK = 5
  val NumPlanes = 8
  val Dim = 64

  /** Width-normalized scan ([[graft.Tables.spread]]): the small corpus
    * arrives as ONE parquet split, and every exact-decimal dot/norm
    * downstream would run on a single core. */
  private[graft] def embeddings(s: SparkSession, dir: String): DataFrame =
    withNorm(Tables.spread(s, dir, "embeddings", "vec_id"))

  /** Attach the exact-decimal L2 norm to a (vec_id, embedding) frame. */
  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))

  // Outputs are UNSORTED distributed frames: the oracle's canonical row
  // order is a harness concern, applied per-query by SparkEntry.canon
  // (VERDICT r04 item 2) — a production caller composing these operators
  // must never inherit a single-partition presentation sort.

  // --- exact top-k ---------------------------------------------------------
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame =
    bruteForceRanked(embeddings(s, dir))

  private[graft] def bruteForceRanked(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        (dotDec(col("qv"), col("embedding")).cast(DoubleType) /
          (col("qn") * col("nrm"))).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("qid", "rank", "neighbor_id", "cos_sim")
  }

  // --- LSH-bucketed ANN ----------------------------------------------------
  /** (plane j, dim i) → deterministic weight in [-10, 10]: first two hex
    * chars of md5(prefix || j || 'p' || i) as an int, mod 21, minus 10.
    * Materialized driver-side: a handful of 64-int vectors are plan
    * literals, not data — and md5 is engine-agnostic, so the DuckDB oracle
    * reproduces the same planes bit-for-bit. */
  private[graft] def planeWeightsSeeded(prefix: String, n: Int): Seq[Seq[Int]] = {
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until n).map(j => (0 until Dim).map(i =>
      Integer.parseInt(md5hex(s"$prefix${j}p$i").take(2), 16) % 21 - 10))
  }

  private[graft] def planeWeights: Seq[Seq[Int]] =
    planeWeightsSeeded("", NumPlanes)

  /** Sign-pattern bucket per vector: bit_j = [Σ_i w_ji · x_i ≥ 0].
    * Each projection is a codegen'd [[graft.functions.FloatVecDot]]
    * against a literal weight vector — per-ROW map-side work, no explode,
    * no shuffle at all for bucketing (the earlier explode+groupBy shape
    * pushed #vectors × Dim × NumPlanes rows through an aggregation). The
    * sequential double fold is bit-identical to the oracle's
    * list_sum-over-doubles, so the sign (and the bucket) match exactly. */
  def buckets(s: SparkSession, dir: String): DataFrame =
    bucketed(embeddings(s, dir)).select("vec_id", "bucket")

  /** Attach the sign-pattern `bucket` column to a normed frame — pure
    * map-side column work, so callers that already hold the frame pay no
    * join and no extra scan. */
  private[graft] def bucketed(e: DataFrame): DataFrame = {
    import graft.functions.FloatVecDot.float_vec_dot
    val bits = planeWeights.map { ws =>
      val wArr = array(ws.map(w => lit(w.toFloat)): _*)
      when(float_vec_dot(col("embedding"), wArr) >= 0, lit("1"))
        .otherwise(lit("0"))
    }
    e.withColumn("bucket", concat(bits: _*))
  }

  // --- IVF (inverted-file) ANN ---------------------------------------------
  /** Coarse-quantizer parameters. Centroids are the data vectors with
    * `vec_id % stride == 0` — a deterministic sample playing the
    * role k-means centroids would in production IVF (training a quantizer
    * is offline work; the SEARCH data flow here is the real thing). Every
    * vector is assigned to its nearest centroid's inverted list; a query
    * probes its `NProbe` nearest lists and re-ranks exactly inside them.
    * At scale: centroid set is broadcast (K ≪ N), assignment is one
    * narrow map-side pass over the vectors, and the probe prunes the
    * exact scoring to ~NProbe/K of the corpus.
    *
    * The stride is a corpus-size KNOB, and since round 13 the DEFAULT is
    * scale-adaptive: `stride = max(1, ⌊√N⌋)` over the centroid-eligible
    * count N, so K = N/stride ≈ √N and the N·K assignment pass is N^1.5
    * out of the box (a flat stride makes K ∝ N and the assignment
    * quadratic — the dominant superlinear term SCALETREND.md measured in
    * the m11/m12/d19 audits at r12, ×23-37 at 10× data). The derivation
    * is one driver-side `count()` of the corpus frame (column-pruned
    * scan, no shuffle) and is replayed bit-for-bit by the DuckDB oracle
    * as `GREATEST(1, CAST(floor(sqrt(count(*))) AS BIGINT))` — floor and
    * sqrt are exactly-rounded IEEE in both engines and √integer is never
    * a .5 boundary, so fixtures stay deterministic AT EVERY CORPUS SIZE
    * rather than pinned to one constant. An explicit stride remains the
    * deployment seam ([[graft.streaming.IndexDeployment.deploy]] records
    * it per generation; rebuilds preserve it). */
  def adaptiveStride(n: Long): Int =
    math.max(1L, math.sqrt(n.toDouble).floor.toLong).toInt

  /** [[adaptiveStride]] over a corpus frame's centroid-eligible rows
    * (`vec_id >= NumQueries` — the same population [[centsOf]] samples,
    * and the same count the oracle's stride subquery runs). The count is
    * memoized per (canonical plan, corpus bytes) — ~20 bench queries
    * re-derive the same stride, and only the first pays the job
    * ([[graft.ops.CorpusCount]]). */
  private[graft] def adaptiveStrideOf(e: DataFrame): Int =
    adaptiveStride(
      graft.ops.CorpusCount.memo(e.filter(col("vec_id") >= NumQueries)))

  /** Sentinel for `stride`/`centroidStride` parameters: derive the
    * stride from the corpus via [[adaptiveStride]] instead of pinning a
    * constant — the default everywhere since round 13. */
  val AdaptiveStride = 0

  /** The stride pre-knob index generations were built at — the GRID-file
    * fallback for generations recorded before the stride rode the file
    * ([[graft.streaming.IndexDeployment.strideOf]]). NOT a default for
    * any derive path anymore: those size K ≈ √N via [[adaptiveStride]]. */
  val CentroidStride = 50
  val NProbe = 3

  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvfRanked(embeddings(s, dir))

  /** [[annIvf]] at an explicit probe budget — the consumption seam for
    * [[recommendedNProbe]]: run the s12 sweep once, then search at the
    * budget the sweep selected instead of the compiled-in default. */
  def annIvf(s: SparkSession, dir: String, nProbe: Int): DataFrame =
    annIvfRanked(embeddings(s, dir), nProbe)

  /** The deterministic coarse-centroid sample `(cid, cv, cn)` — ONE
    * definition shared by every IVF consumer (search, audits, IVF-PQ), so
    * a change to the quantizer cannot silently diverge between the
    * oracle-checked variants. [[AdaptiveStride]] (the default) sizes the
    * stride ≈ √N from the frame's own centroid-eligible count, so K ≈ √N
    * at any corpus size; an explicit stride is the deployment knob. */
  private[graft] def centsOf(e: DataFrame,
      stride: Int = AdaptiveStride): DataFrame = {
    val st = if (stride == AdaptiveStride) adaptiveStrideOf(e) else stride
    e.filter(col("vec_id") % st === 0 &&
        col("vec_id") >= NumQueries)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn"))
  }

  /** Materialize the frozen quantizer artifacts for `(tag, corpus dir)`
    * into a [[graft.streaming.IndexDeployment.loadGen]]-shaped directory
    * (`cents` + `cb` parquet tables) under the JVM temp root, ONCE —
    * artifacts are deterministic functions of the training frame, so the
    * `_DONE` marker makes every later call a pure read. This is the
    * persisted-artifact seam of the s17c/s18c/s20c/s21c audit variants:
    * a real maintenance job reads its quantizers from the deployed
    * generation instead of re-deriving them per run. Returns the
    * artifact directory. Existence checks go through the path's own
    * Hadoop filesystem (the non-local-FS lesson). */
  private[graft] def ensureArtifacts(s: SparkSession, dir: String,
      tag: String, train: => DataFrame): String = {
    // cache key = fingerprint of the corpus dir's file METADATA (name,
    // length, mtime; one level of recursion for table subdirs) — a
    // regenerated corpus at the same path string invalidates the cache,
    // where a path-hash key would silently serve quantizers trained on
    // the old bytes. Driver-side listing only, no data scan.
    val corpus = graft.fs.CommitFiles(s, dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    // derivation-rule version rides the cache key: artifacts are a
    // function of (corpus bytes, quantizer rule), and a rule change —
    // like the r13 flat→adaptive stride default — must invalidate
    // published artifact sets the corpus fingerprint alone would keep
    // serving stale.
    md.update("quantizer-v2-adaptive-stride;".getBytes("UTF-8"))
    md.update(dir.getBytes("UTF-8"))
    def stamp(st: org.apache.hadoop.fs.FileStatus): Unit = md.update(
      s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
        .getBytes("UTF-8"))
    corpus.list("").sortBy(_.getPath.getName).foreach { st =>
      stamp(st)
      if (st.isDirectory)
        corpus.list(st.getPath.getName).sortBy(_.getPath.getName).foreach(stamp)
    }
    val fp = md.digest().take(8).map("%02x".format(_)).mkString
    val arts = graft.fs.CommitFiles(s,
      s"${System.getProperty("java.io.tmpdir")}/graft-artifacts")
    val name = s"$tag-$fp"
    val root = arts.path(name).toString
    if (!arts.exists(s"$name/_DONE")) {
      // a fresh fingerprint supersedes every older PUBLISHED artifact
      // set for this tag — retire them so corpus regeneration cannot
      // accumulate stale quantizer copies under the temp root forever.
      // In-flight `.tmp-` dirs are exempt: a concurrent builder's live
      // tmp is indistinguishable from a crashed one, and sweeping it
      // would fail that builder's writes mid-build (the gcGenerations
      // incomplete-dir rule); crashed tmps linger, bounded by crash
      // count. A concurrent reader of a retired root rebuilds on its
      // next call; this is a cache, not a store.
      arts.list("").map(_.getPath.getName)
        .filter(n => n.startsWith(s"$tag-") && n != name && !n.contains(".tmp-"))
        .foreach(arts.delete)
      // build aside, publish by atomic rename: a concurrent builder
      // computes identical artifacts (deterministic function of the
      // training frame), so whoever publishes first wins and the loser
      // discards — no window where a reader sees half-written tables.
      // Hadoop rename into an EXISTING directory moves the source
      // UNDER it (returning true), so losing the race is detected by
      // re-checking the destination, not by the rename's return value.
      val tmp = s"$name.tmp-${java.util.UUID.randomUUID}"
      val t = train
      centsOf(t).write.mode("overwrite").parquet(s"${arts.path(tmp)}/cents")
      pqCodebook(t).write.mode("overwrite").parquet(s"${arts.path(tmp)}/cb")
      arts.mark(s"$tmp/_DONE")
      val fs = arts.root.getFileSystem(s.sessionState.newHadoopConf())
      if (arts.exists(name) || !fs.rename(arts.path(tmp), arts.path(name))) arts.delete(tmp)
      // raced between the exists check and the rename: the rename
      // nested tmp inside the winner's root — clean the stray copy
      arts.delete(s"$name/$tmp")
    }
    root
  }

  /** Publish BOTH quantizer artifact sets for a corpus dir (the `full`
    * corpus-trained pair and the `existing` pre-ingest pair) — the
    * deploy-time step of the artifact lifecycle: a real deployment
    * builds its quantizers when the index generation ships, so the
    * s17c/s18c/s20c/s21c maintenance audits always find them frozen and
    * never pay the one-time build inside a measured run. Idempotent
    * ([[ensureArtifacts]]' `_DONE`/fingerprint rules apply); a
    * regenerated corpus republishes on the next call. */
  def publishArtifacts(s: SparkSession, dir: String): Unit = {
    ensureArtifacts(s, dir, "full", embeddings(s, dir))
    ensureArtifacts(s, dir, "existing",
      embeddings(s, dir).filter(col("vec_id") >= NumQueries &&
        !isIngestBatch))
    ()
  }

  /** Load the frozen `(cents, cb)` pair from an artifact directory —
    * accepts [[ensureArtifacts]] output or any
    * [[graft.streaming.IndexDeployment]] generation directory. */
  private[graft] def loadArtifacts(s: SparkSession,
      artDir: String): (DataFrame, DataFrame) =
    (s.read.parquet(s"$artDir/cents"), s.read.parquet(s"$artDir/cb"))

  /** Query→inverted-list probe map `(qid, cid, probe_rank <= maxRank)` —
    * the coarse search every IVF variant starts from (same single
    * definition rationale as [[centsOf]]). */
  private def coarseProbes(e: DataFrame, cents: DataFrame,
      numQueries: Int, maxRank: Int): DataFrame =
    coarseProbesQ(e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("embedding"),
        col("nrm").as("qn")), cents, maxRank)

  /** [[coarseProbes]] over an EXPLICIT `(qid, embedding, qn)` query
    * frame — the serving seam ([[ivfPqServe]]): arriving queries are not
    * rows of the indexed corpus. */
  private[graft] def coarseProbesQ(q: DataFrame, cents: DataFrame,
      maxRank: Int): DataFrame = {
    val ccos =
      (graft.functions.FloatVecDot.float_vec_dot(col("embedding"), col("cv")) /
        (col("qn") * col("cn"))).as("ccos")
    q.join(broadcast(cents), lit(true))
      .select(col("qid"), col("cid"), ccos)
      .withColumn("probe_rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("ccos").desc, col("cid").asc)))
      .filter(col("probe_rank") <= maxRank)
      .select("qid", "cid", "probe_rank")
  }

  private[graft] def annIvfRanked(e: DataFrame,
      nProbe: Int = NProbe): DataFrame =
    ivfSearch(e, centsOf(e), numQueries = NumQueries, nProbe = nProbe,
      topK = 3)

  /** Inverted-list assignment: every vector → its single nearest centroid
    * (argmax cosine, ties to the smallest cid). Broadcast centroids, one
    * map-side pass + a per-vector window — shared by [[ivfSearch]] and
    * the [[indexStats]] balance audit. */
  private[graft] def ivfAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    def cosToCentroid =
      (graft.functions.FloatVecDot.float_vec_dot(col("embedding"), col("cv")) /
        (col("nrm") * col("cn"))).as("ccos")
    val wNearest = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid").asc)
    e.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("cid"), cosToCentroid)
      .withColumn("rn", row_number().over(wNearest))
      .filter(col("rn") === 1).select("vec_id", "cid")
  }

  /** Index-balance audit (s10): per-partition occupancy of the LSH
    * buckets and the IVF inverted lists — the operational diagnostic a
    * 100-TB ANN deployment watches, because one hot bucket silently
    * turns "ANN" into brute force over the hot partition (and starves
    * the probe budget everywhere else). One row per index: group count,
    * total vectors, min/max occupancy, and the hot partition's share
    * (exact integers; the share is one boundary division). */
  def indexStats(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    def statsOf(groups: DataFrame, name: String): DataFrame = groups
      .agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_vectors"),
        min(col("sz")).as("min_size"), max(col("sz")).as("max_size"))
      .select(lit(name).as("index_name"), col("n_groups"), col("n_vectors"),
        col("min_size"), col("max_size"),
        (col("max_size").cast(DoubleType) / col("n_vectors")).as("max_share"))
    val lsh = bucketed(e).groupBy("bucket").agg(count(lit(1)).as("sz"))
    val ivf = ivfAssign(e, centsOf(e)).groupBy("cid")
      .agg(count(lit(1)).as("sz"))
    statsOf(lsh, "lsh").unionByName(statsOf(ivf, "ivf"))
  }

  /** Embedding-health audit (s11) — the per-dimension profile an
    * embedding pipeline checks before building any index on a new model
    * or corpus snapshot: per dim, the mean (drift/offset detection),
    * min/max (range sanity), zero count (dead dimensions — a collapsed
    * encoder shows up here first), and positive count (sign balance).
    * Sums run in exact DECIMAL(12,6) (order-independent — a float sum
    * would hash-differ per partition layout); the mean is one division
    * at the boundary, min/max/counts are order-free. Shape at 100 TB:
    * one posexplode (rows = vectors × dims, narrow 2-column frame) into
    * one dim-keyed aggregation with map-side combine — output is [[Dim]]
    * rows. */
  def embeddingStats(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "embeddings", "vec_id")
      .select(posexplode(col("embedding")))
      .select(col("pos").as("dim"), col("col").cast(DoubleType).as("v"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum(dec(col("v"))).as("sdec"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(when(col("v") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("v") > 0.0, 1L).otherwise(0L)).as("n_pos"))
      .select(col("dim"), col("n_vecs"),
        (col("sdec").cast(DoubleType) / col("n_vecs")).as("mean_v"),
        col("min_v"), col("max_v"), col("n_zero"), col("n_pos"))

  /** kNN label-consistency audit (s22) — the supervised probe an
    * embedding pipeline runs before trusting a space for curation or
    * dedup: if the corpus carries labels (the `embeddings.label`
    * column), the fraction of a query's exact top-[[TopK]] neighbors
    * sharing its label, and whether the neighbors' MAJORITY label
    * recovers it (the standard kNN-classification sanity check — a
    * space where labels don't cluster is a space where cosine
    * similarity means nothing, and every d05/d18/s15 decision built on
    * it inherits that). Per label: query count, neighbor label hits
    * (≤ [[TopK]]·n), and majority-vote correct count — integers only,
    * so the oracle compare is exact by construction. Majority ties
    * break to the smallest label (deterministic, oracle-replayed).
    * Truth comes from [[bruteForceRanked]] — an audit over the
    * [[NumQueries]] query sample must not inherit the index's own
    * recall errors; at 100 TB the sample stays a broadcast against one
    * corpus scan (the s01 shape), never all-pairs. */
  def labelPurity(s: SparkSession, dir: String): DataFrame = {
    val lab = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    // broadcast direction: the ranked pairs (≤ NumQueries·TopK rows)
    // are the small side; the label table is corpus-sized and scans
    // twice (qid side, neighbor side), never shipping to the driver
    val pairs = bruteForceRanked(embeddings(s, dir))
      .select("qid", "neighbor_id")
    val withQ = lab.select(col("vec_id").as("qid"),
        col("label").as("qlabel"))
      .join(broadcast(pairs), "qid")
    val j = lab.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel"))
      .join(broadcast(withQ), "neighbor_id")
    val perQuery = j.groupBy("qid", "qlabel")
      .agg(sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
        .as("n_match"))
    val wMaj = Window.partitionBy(col("qid"))
      .orderBy(col("cnt").desc, col("nlabel").asc)
    val majority = j.groupBy("qid", "nlabel")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wMaj))
      .filter(col("rn") === 1)
      .select(col("qid"), col("nlabel").as("maj_label"))
    perQuery.join(majority, "qid")
      .groupBy(col("qlabel"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_match")).as("n_hits"),
        sum(when(col("maj_label") === col("qlabel"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("qlabel").as("label"), col("n_queries"), col("n_hits"),
        col("n_correct"))
  }

  /** Embedding drift audit (s13) — the per-dimension comparison a
    * pipeline runs between two corpus snapshots (or two encoder
    * versions) before trusting that yesterday's index parameters still
    * hold: for each dimension, both snapshots' counts and means plus
    * the absolute mean shift. Snapshots here are the deterministic
    * vec_id-parity halves (the oracle replays them exactly); in
    * production the split column is the snapshot id. One posexplode into
    * ONE dim-keyed conditional aggregation — no self-join of the two
    * snapshots, so the scan stays single-pass with map-side combine
    * (the s11 shape, widened by a CASE). Sums in exact DECIMAL(12,6);
    * means and the shift are boundary divisions/subtractions on already-
    * rounded doubles, so both engines agree bit-for-bit. */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val even = col("vec_id") % 2 === 0
    Tables.spread(s, dir, "embeddings", "vec_id")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        col("col").cast(DoubleType).as("v"))
      .groupBy("dim")
      .agg(sum(when(even, 1L).otherwise(0L)).as("n_a"),
        sum(when(!even, 1L).otherwise(0L)).as("n_b"),
        sum(when(even, Dedup.dec(col("v"))).otherwise(lit(null))).as("sa"),
        sum(when(!even, Dedup.dec(col("v"))).otherwise(lit(null))).as("sb"))
      .select(col("dim"), col("n_a"), col("n_b"),
        (col("sa").cast(DoubleType) / col("n_a")).as("mean_a"),
        (col("sb").cast(DoubleType) / col("n_b")).as("mean_b"))
      .withColumn("mean_shift", abs(col("mean_a") - col("mean_b")))
  }

  /** Probe budgets [[ivfProbeAudit]] sweeps, bracketing the production
    * [[NProbe]] = 3 operating point. */
  val ProbeSweep: Seq[Int] = Seq(1, 2, 3, 5)

  /** IVF probe-budget sweep (s12) — [[Dedup.lshTuningAudit]]'s companion
    * for the inverted-file index: for each nprobe budget, the candidate
    * count (vectors exactly re-ranked — the work the budget buys) and
    * recall@3 vs the brute-force truth (what the work was worth), the
    * published IVF work/recall curve measured on the actual corpus
    * before a 100-TB deployment commits to one probe count.
    *
    * One index build and ONE scoring pass serve every sweep point: each
    * vector lives in exactly one inverted list, so a scored candidate
    * carries the probe rank of the list that admitted it, and a budget's
    * candidate set is just `probe_rank <= np` over the shared scored
    * frame — the sweep adds windows and counts, never re-scores.
    * Persisted inputs are evicted after eager materialization (the
    * s06/s09 pattern). */
  def ivfProbeAudit(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).persist()
    val cents = centsOf(e)
    val probes = coarseProbes(e, cents, NumQueries, ProbeSweep.max)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val scored = ivfAssign(e, cents)
      .join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .join(e, "vec_id").join(broadcast(q), "qid")
      .select(col("qid"), col("probe_rank"), col("vec_id").as("neighbor_id"),
        (dotDec(col("qv"), col("embedding")).cast(DoubleType) /
          (col("qn") * col("nrm"))).as("cos_sim"))
      .persist()
    val bf = bruteForceRanked(e)
      .filter(col("rank") <= 3).select("qid", "neighbor_id").persist()
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val rows = ProbeSweep.map { np =>
      val sub = scored.filter(col("probe_rank") <= np)
      val hits = sub.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .join(broadcast(bf), Seq("qid", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
      sub.agg(count(lit(1)).as("n_candidates")).crossJoin(hits)
        .select(lit(np).as("n_probe"), col("n_candidates"), col("n_hits"),
          lit(3L * NumQueries).as("n_possible"),
          (col("n_hits").cast(DoubleType) / (3L * NumQueries))
            .as("recall_at_3"))
    }
    evictAfter(Dedup.markRecommended(rows.reduce(_.unionByName(_)),
      quality = col("recall_at_3"), cost = col("n_candidates"),
      param = col("n_probe")), e, scored, bf)
  }

  /** The probe budget [[ivfProbeAudit]] recommends, for [[annIvf]]'s
    * explicit-budget overload. */
  def recommendedNProbe(s: SparkSession, dir: String): Int =
    ivfProbeAudit(s, dir).filter(col("recommended")).head()
      .getAs[Int]("n_probe")

  /** The IVF search data flow, shared by the oracle-pinned [[annIvf]] and the
    * trained [[annIvfTrained]]. `e` = (vec_id, embedding, nrm); `cents` =
    * (cid, cv, cn), K ≪ N so always broadcast.
    */
  private[graft] def ivfSearch(e: DataFrame, cents: DataFrame,
      numQueries: Int, nProbe: Int, topK: Int): DataFrame = {
    // Assignment/probing only needs an ARGMAX over centroids, so it runs
    // on the codegen'd double dot inside centsOf/coarseProbes/ivfAssign
    // (bit-identical to the oracle's list_sum-over-doubles) instead of
    // ~300×-slower exact decimals; the FINAL cos_sim output below stays
    // decimal-exact.
    // inverted lists: every vector → its single nearest centroid
    val assigned = ivfAssign(e, cents)
    // queries probe their nProbe nearest lists
    val probes = coarseProbes(e, cents, numQueries, nProbe)
      .select("qid", "cid")
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    // candidates = union of probed lists; exact re-rank within them
    val scored = assigned
      .join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .join(e, "vec_id").join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        (dotDec(col("qv"), col("embedding")).cast(DoubleType) /
          (col("qn") * col("nrm"))).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "neighbor_id", "cos_sim")
  }

  // --- trained IVF (k-means|| coarse quantizer) ----------------------------
  /** Production IVF trains its coarse quantizer; [[annIvf]] stands in a
    * deterministic data sample so the DuckDB oracle can replay the buckets.
    * This variant trains REAL centroids — spark.ml k-means|| with a fixed
    * seed (reference quantizer-training shape: hybrid-cdc-demo has no ANN,
    * this is north-star surface) — then runs the identical search flow.
    * Driver check is rows-only by design: trained centers are engine-
    * specific floats DuckDB cannot reproduce, like q12b's HLL sketch. The
    * recall spec drives it on a clustered corpus where trained centroids
    * beat sampled ones.
    *
    * At 100 TB: training runs on a sample (k-means|| is a handful of passes
    * over O(sample) with K ≪ N centers on the driver — the standard, scale-
    * sanctioned exception to "no driver data"), and the resulting centers
    * broadcast to the assignment pass exactly as here.
    */
  val TrainedK = 12

  private[graft] def trainCentroids(e: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = e.select(col("vec_id"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setSeed(7).setMaxIter(5).fit(feats)
    val s = e.sparkSession
    import s.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }
      .toDF("cid", "cv")
      .select(col("cid"), col("cv"), normD(col("cv")).as("cn"))
  }

  /** Trained-quantizer IVF as a GATE query (VERDICT r04 ask #7): the
    * k-means‖ centroids are engine-specific, so the driver-checkable
    * output is structural invariants of the live search result — query
    * count (oracle-recomputable from the table), total results, exactly
    * top-3 per query, no self-matches. A query missing from the result
    * (empty inverted list, broken probe) breaks n_queries; recall quality
    * is spec-gated on a clustered corpus (OperatorsSpec). */
  def annIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val cents = trainCentroids(e.filter(col("vec_id") >= NumQueries), TrainedK)
    val res = ivfSearch(e, cents, numQueries = NumQueries, nProbe = NProbe,
      topK = 3)
    val per = res.groupBy("qid").agg(count(lit(1)).as("k"),
      max(when(col("neighbor_id") === col("qid"), 1).otherwise(0)).as("selfhit"))
    per.agg(count(lit(1)).as("n_queries"), sum(col("k")).as("n_results"),
      (min(col("k")) === 3 && max(col("k")) === 3).as("three_per_query"),
      (max(col("selfhit")) === 0).as("no_self_matches"))
  }

  // --- int8-quantized scoring ----------------------------------------------
  /** Symmetric per-vector int8 quantization + quantized top-k: scale =
    * max|x|/127, q_i = ⌊x·127/max|x| + 0.5⌋ (explicit half-up floor —
    * `round()` half-even vs half-up semantics differ across engines, floor
    * does not). The 4×-smaller codes are what a 100-TB ANN index actually
    * stores; scoring is pure BIGINT dot products (engine-exact), doubles
    * only at the cosine boundary. Top-k per query over the quantized
    * scores, exactly the s01 flow.
    */
  def quantizedTopK(s: SparkSession, dir: String): DataFrame =
    quantizedRanked(Tables.spread(s, dir, "embeddings", "vec_id"))

  /** [[quantizedTopK]] over an arbitrary (vec_id, embedding) frame —
    * shared with the compression-recall eval. */
  private[graft] def quantizedRanked(raw: DataFrame): DataFrame = {
    val base = raw
      .select(col("vec_id"),
      col("embedding"),
      array_max(transform(col("embedding"), x => abs(x.cast(DoubleType))))
        .as("amax"))
    val quant = base.select(col("vec_id"),
      transform(col("embedding"), x =>
        floor(x.cast(DoubleType) * lit(127.0) / col("amax") + lit(0.5))
          .cast("long")).as("qv"))
    val e = quant.select(col("vec_id"), col("qv"),
      sqrt(aggregate(col("qv"), lit(0L), (acc, v) => acc + v * v)
        .cast(DoubleType)).as("qn"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"), col("qn").as("qqn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        (aggregate(zip_with(col("qqv"), col("qv"), (a, b) => a * b), lit(0L),
          (acc, v) => acc + v).cast(DoubleType) /
          (col("qqn") * col("qn"))).as("qcos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "neighbor_id", "qcos")
  }

  // --- product-quantization (PQ) ADC top-k ---------------------------------
  /** Product quantization — the memory layout a 100-TB ANN index actually
    * ships: each 64-dim float vector compresses to [[PqM]] one-byte codes
    * (64× smaller than floats, 4× smaller than the s05 int8 codes) by
    * splitting it into [[PqM]] subvectors of [[PqSubDim]] dims and
    * snapping each to the nearest of [[PqK]] codebook entries. Queries
    * score against codes with the classic ADC (asymmetric distance
    * computation) trick: precompute the Q×M×K table of
    * query-subvector·codebook-entry dots, then a vector's approximate dot
    * is M table lookups — no float math per candidate at all.
    *
    * Codebook entries are the subvectors of a deterministic data sample
    * (vec_id ∈ [NumQueries, NumQueries+PqK)) standing in for offline
    * k-means training, exactly as [[annIvf]]'s coarse centroids do — which
    * keeps every assignment DuckDB-replayable. All argmin keys and ADC
    * sums are exact decimals (assignment key = ‖c‖² − 2·x·c, the ‖x‖²
    * term is constant per (vector, subspace) and cannot change the
    * argmin); doubles appear only in the final cosine-style boundary.
    *
    * Shape at 100 TB: the codebook is M·K tiny rows (broadcast), encoding
    * is one map-side pass per subvector (the per-m explode is ×M on the
    * narrow (vec_id, subvector) projection, not the corpus), the ADC table
    * is Q·M·K rows (broadcast), and the only corpus-scale shuffle is the
    * map-side-combined (qid, vec_id) score aggregation followed by the
    * per-query top-k window.
    */
  val PqM = 8
  val PqSubDim = 8 // PqM · PqSubDim = Dim
  val PqK = 16

  def pqTopK(s: SparkSession, dir: String): DataFrame =
    pqRanked(embeddings(s, dir))

  /** [[pqTopK]] at an explicit subspace count — the consumption seam for
    * [[recommendedPqM]]: run the s14 sweep once, then search at the
    * (M, Dim/M) split the sweep selected. */
  def pqTopK(s: SparkSession, dir: String, m: Int): DataFrame = {
    require(Dim % m == 0, s"subspace count $m must divide Dim=$Dim")
    pqRanked(embeddings(s, dir), m, Dim / m)
  }

  private def subM(m: Int = PqM) = explode(sequence(lit(0), lit(m - 1)))
  private def sliceM(v: Column, subDim: Int = PqSubDim) =
    slice(v, col("m") * subDim + 1, lit(subDim))

  /** Codebook: (m, c, csub, ‖csub‖²) — PqM·PqK rows, broadcast everywhere.
    * All dots ride the codegen'd [[Dedup.dotDec]] (a lambda-fold variant
    * benched 2.5× slower end-to-end: higher-order functions interpret
    * their lambdas per element). */
  private[graft] def pqCodebook(e: DataFrame, m: Int = PqM,
      subDim: Int = PqSubDim): DataFrame = e
    .filter(col("vec_id") >= NumQueries && col("vec_id") < NumQueries + PqK)
    .select((col("vec_id") - NumQueries).cast("int").as("c"),
      subM(m).as("m"), col("embedding"))
    .select(col("m"), col("c"), sliceM(col("embedding"), subDim).as("csub"))
    .withColumn("cn2", dotDec(col("csub"), col("csub")))

  /** Encode: nearest codebook entry per (vector, subspace) → (vec_id, nrm,
    * m, code). One (vector, subspace, candidate) row per comparison — all
    * map-side from a broadcast join, with the codegen'd decimal dot as a
    * plain column — then an argmin aggregation whose partial step
    * collapses the ×K fan-out before the exchange (the shuffle carries
    * N·M rows, not N·M·K).
    *
    * The argmin is `min_by(c, k + c·10⁻¹⁴)`: the distance `k` is exact
    * scale-12 decimal, so distinct keys differ by ≥10⁻¹² while the
    * tie-break term is < PqK·10⁻¹⁴ = 1.6·10⁻¹³ — the combined key orders
    * EXACTLY like lexicographic (k, ties to smallest c), matching the
    * oracle's ROW_NUMBER ORDER BY key, c. One fixed-width decimal buffer
    * keeps the aggregation in HashAggregate; the earlier
    * `min(struct(k, c))` buffer forced a SortAggregate into the encode
    * path (VERDICT r04 ask #4). */
  private[graft] def pqCodes(e: DataFrame, m: Int = PqM,
      subDim: Int = PqSubDim): DataFrame =
    pqCodesFor(e, pqCodebook(e, m, subDim), m, subDim)

  /** [[pqCodes]] against an EXPLICIT codebook — the seam the s17
    * incremental-ingest path encodes through: the codebook is a frozen
    * artifact of the existing index, not a function of the frame being
    * encoded. */
  private[graft] def pqCodesFor(e: DataFrame, cb: DataFrame, m: Int,
      subDim: Int): DataFrame = {
    val sub = e.select(col("vec_id"), col("nrm"), subM(m).as("m"), col("embedding"))
      .select(col("vec_id"), col("nrm"), col("m"),
        sliceM(col("embedding"), subDim).as("xsub"))
    sub.join(broadcast(cb), "m")
      .select(col("vec_id"), col("nrm"), col("m"), col("c"),
        (col("cn2") - lit(2) * dotDec(col("xsub"), col("csub")) +
          col("c") * lit(new java.math.BigDecimal("1E-14"))).as("kc"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("c"), col("kc")).as("code"), max(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("nrm"), col("m"), col("code"))
  }

  /** ADC table: query-subvector · codebook-entry exact dots (Q·M·K rows,
    * broadcast) — shared by [[pqRanked]] and [[ivfPqRanked]]. */
  private def pqLut(e: DataFrame, m: Int, subDim: Int): DataFrame =
    pqLutFor(e, pqCodebook(e, m, subDim), m, subDim)

  /** [[pqLut]] against an explicit codebook (the s17 frozen-artifact
    * seam, mirroring [[pqCodesFor]]). */
  private def pqLutFor(e: DataFrame, cb: DataFrame, m: Int,
      subDim: Int): DataFrame =
    pqLutQ(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding"),
        col("nrm").as("qn")), cb, m, subDim)

  /** [[pqLutFor]] over an explicit `(qid, embedding, qn)` query frame
    * (the serving seam, mirroring [[coarseProbesQ]]). */
  private[graft] def pqLutQ(q: DataFrame, cb: DataFrame, m: Int,
      subDim: Int): DataFrame =
    q.select(col("qid"), col("qn"), subM(m).as("m"), col("embedding"))
      .select(col("qid"), col("qn"), col("m"),
        sliceM(col("embedding"), subDim).as("qsub"))
      .join(broadcast(cb.select(col("m"), col("c"), col("csub"),
        col("cn2"))), "m")
      // cn2 rides along so a consumer deriving the queries' own encode
      // from the LUT (ivfPqServe's qCodes) needs no second codebook join
      .select(col("qid"), col("qn"), col("m"), col("c"),
        dotDec(col("qsub"), col("csub")).as("pdot"), col("cn2"))

  private[graft] def pqRanked(e: DataFrame, m: Int = PqM,
      subDim: Int = PqSubDim): DataFrame = {
    val codes = pqCodes(e, m, subDim)
    val lut = pqLut(e, m, subDim)
    // score: M lookups per (query, vector); partial aggregation collapses
    // the ×M·Q join fan-out back to Q rows per vector before the shuffle
    val scored = codes.join(broadcast(lut),
        codes("m") === lut("m") && codes("code") === lut("c") &&
          codes("vec_id") =!= lut("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pdot")).as("adc"), max(col("nrm")).as("nrm"),
        max(col("qn")).as("qn"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        (col("adc").cast(DoubleType) / (col("qn") * col("nrm"))).as("pq_score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("pq_score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "neighbor_id", "pq_score")
  }

  // --- IVF-PQ composed ANN (s15) -------------------------------------------
  /** The production-shape 100 TB index: IVF coarse quantization prunes the
    * corpus to the query's [[NProbe]] nearest inverted lists, and PQ/ADC
    * scores ONLY those candidates — s03's pruning times s07's compression,
    * composed exactly as a FAISS-style IVFPQ index runs. Neither side
    * changes semantics: assignment/probing are s03's argmax flow, codes
    * and the ADC table are s07's (exact-decimal keys and sums), so the
    * oracle replays the composition verbatim.
    *
    * Shape at 100 TB: the probe prunes exact work to ~nProbe/K of the
    * corpus BEFORE any scoring join, the ADC table and probe map are
    * broadcast, and the only corpus-scale exchange is the map-side-
    * combined (qid, vec_id) score aggregation — the index never
    * materializes float vectors for candidates at all. */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame =
    ivfPqRanked(embeddings(s, dir))

  /** [[ivfPqTopK]] at explicit probe budget and subspace count — the two
    * knobs the s12/s14 sweeps recommend. */
  def ivfPqTopK(s: SparkSession, dir: String, nProbe: Int, m: Int): DataFrame = {
    require(Dim % m == 0, s"subspace count $m must divide Dim=$Dim")
    ivfPqRanked(embeddings(s, dir), nProbe, m, Dim / m)
  }

  private[graft] def ivfPqRanked(e: DataFrame, nProbe: Int = NProbe,
      m: Int = PqM, subDim: Int = PqSubDim, topK: Int = 3,
      centroidStride: Int = AdaptiveStride): DataFrame =
    ivfPqRankedFor(e, centsOf(e, centroidStride),
      pqCodebook(e, m, subDim), nProbe, m, subDim, topK)

  /** [[ivfPqRanked]] against EXPLICIT coarse centroids and PQ codebook —
    * how a maintained 100 TB index actually serves: the quantizer
    * artifacts are frozen at build time; data (including post-build
    * ingest batches, s17) flows through them. */
  private[graft] def ivfPqRankedFor(e: DataFrame, cents: DataFrame,
      cb: DataFrame, nProbe: Int = NProbe, m: Int = PqM,
      subDim: Int = PqSubDim, topK: Int = 3): DataFrame = {
    val (cand, codes, lut) = pqSearchInputs(e, cents, cb, nProbe, m, subDim)
    adcRanked(cand, codes, lut, topK)
  }

  /** The s15 candidate construction BOTH compressed retrievals rank
    * over — coarse probes → inverted-list candidates (self excluded),
    * plus the frozen-artifact codes and per-query LUT. One definition,
    * so [[ivfPqRankedFor]] (s15) and [[ivfPqRetrieveFor]] (s16) can
    * never silently fork on probe or candidate semantics. */
  private def pqSearchInputs(e: DataFrame, cents: DataFrame, cb: DataFrame,
      nProbe: Int, m: Int, subDim: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val probes = coarseProbes(e, cents, NumQueries, nProbe)
      .select("qid", "cid")
    val cand = ivfAssign(e, cents).join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("qid")).select("qid", "vec_id")
    val codes = pqCodesFor(e, cb, m, subDim)
    val lut = pqLutFor(e, cb, m, subDim)
      .select(col("qid"), col("qn"), col("m"), col("c").as("code"),
        col("pdot"))
    (cand, codes, lut)
  }

  /** Per-vector PQ code fingerprint: the M 4-bit codes packed into one
    * long (`Σ code·2^{4m}` — collision-free for K ≤ 16, M ≤ 15). Two
    * vectors share the key iff their full code vectors are identical;
    * exact duplicates always do, because encoding is a pure function of
    * the embedding under a frozen codebook. */
  private def codeKeysOf(codes: DataFrame): DataFrame =
    codes.groupBy("vec_id").agg(packedCodeKey.as("ck"))

  /** The packed-code-key aggregate `Σ code·2^{4m}` — ONE definition
    * shared by [[codeKeysOf]] (query side) and [[adcScored]] (candidate
    * side): the exact-code channel rests on key EQUALITY, so a radix
    * change must hit both sides or neither. */
  private def packedCodeKey: Column =
    sum(col("code").cast("long") * pow(lit(2.0), col("m") * 4).cast("long"))

  /** The refine-stage candidate set: ADC top-`refineK` (ties-inclusive)
    * PLUS the exact-code channel — any probed candidate whose full PQ
    * code vector equals the query's own encoding advances to the exact
    * re-rank unconditionally. ADC normalizes by the candidate's TRUE
    * norm while the numerator rides the quantized reconstruction, so an
    * exact duplicate's compressed score is NOT maximal: on
    * code-collapsing corpora (16-dim histograms, m11) more than refineK
    * near-proportional candidates can out-score it and no tie rule
    * saves it. Code identity is the property quantization CANNOT
    * destroy — the channel makes "an exact duplicate always reaches the
    * exact re-rank" true by construction.
    *
    * Cost at 100 TB: ZERO new exchanges — the candidate's packed code
    * key is one more map-side-combined sum riding the existing ADC
    * aggregation ([[adcScored]]), and the Q query keys broadcast into
    * the rank filter; the channel is an OR in the cut predicate, not a
    * second pipeline (the oracle replays it as `UNION`, which dedupes
    * to the same set). */
  private def refineCandidates(cand: DataFrame, codes: DataFrame,
      lut: DataFrame, qCodes: DataFrame, refineK: Int): DataFrame = {
    val qk = codeKeysOf(qCodes)
      .select(col("vec_id").as("qid"), col("ck").as("qck"))
    val w = Window.partitionBy(col("qid")).orderBy(col("pq_score").desc)
    adcScored(cand, codes, lut)
      .withColumn("rank", rank().over(w))
      .join(broadcast(qk), "qid")
      .filter(col("rank") <= refineK || col("nck") === col("qck"))
      .select("qid", "neighbor_id")
  }

  /** The two-stage retrieval's candidate pairs `(qid, neighbor_id)` for
    * corpus-resident queries — [[refineCandidates]] over the s15
    * cand/codes/LUT construction, query codes sliced from the corpus
    * encode (queries ARE corpus rows here). */
  private def ivfPqRetrieveFor(e: DataFrame, cents: DataFrame,
      cb: DataFrame, nProbe: Int, m: Int, subDim: Int,
      refineK: Int): DataFrame = {
    val (cand, codes, lut) = pqSearchInputs(e, cents, cb, nProbe, m, subDim)
    refineCandidates(cand, codes, lut,
      codes.filter(col("vec_id") < NumQueries), refineK)
  }

  /** Compressed-retrieval budget for [[ivfPqRefineTopK]]: the refine
    * stage re-ranks this many ADC candidates per query exactly. */
  val RefineK = 10

  // --- IVF-PQ + exact refine (s16) -----------------------------------------
  /** Two-stage retrieval — the FAISS `refine` pattern a production ANN
    * deployment serves queries with: the compressed index ([[ivfPqTopK]],
    * s15) retrieves [[RefineK]] candidates per query by ADC score, then
    * ONLY those candidates are re-scored with the exact-decimal cosine
    * (s01's contract) and re-ranked to the final top-3. The compressed
    * stage never materializes float vectors; the exact stage touches
    * RefineK·|queries| vectors — at 100 TB that is the difference
    * between scanning the corpus and scanning a few hundred rows, while
    * repairing exactly the ADC quantization inversions the s09/s14
    * fidelity audits measure. */
  def ivfPqRefineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    exactCosRankedPairs(e, ivfPqRetrieveFor(e, centsOf(e), pqCodebook(e),
      NProbe, PqM, PqSubDim, RefineK), k = 3)
  }

  /** Exact-decimal cosine scoring (the s01 contract) + top-k ranking of
    * an explicit `(qid, neighbor_id)` candidate frame — the refine
    * stage any candidate generator composes with. The candidate frame
    * is the SMALL side (RefineK·|queries| rows) and is broadcast into
    * the corpus scan, so the only corpus-side work is fetching the
    * candidates' vectors. */
  private def exactCosRankedPairs(e: DataFrame, cand: DataFrame,
      k: Int): DataFrame =
    exactCosRankedPairsQ(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding"),
        col("nrm").as("qn")), e, cand, k)

  /** [[exactCosRankedPairs]] with an explicit `(qid, embedding, qn)`
    * query frame (the serving seam, mirroring [[coarseProbesQ]]). */
  private[graft] def exactCosRankedPairsQ(q0: DataFrame, corpus: DataFrame,
      cand: DataFrame, k: Int): DataFrame = {
    val q = q0.select(col("qid"), col("embedding").as("qv"), col("qn"))
    val scored = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"))
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("neighbor_id"),
        (dotDec(col("qv"), col("embedding")).cast(DoubleType) /
          (col("qn") * col("nrm"))).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "neighbor_id", "cos_sim")
  }

  /** End-to-end ANN serving of an EXTERNAL query frame against a built
    * index — the full s15+s16 retrieval (coarse probe → ADC top-
    * [[RefineK]] → exact-decimal re-rank to top-`k`) where the queries
    * arrive as their own `(qid, embedding)` frame instead of living
    * inside the corpus, and the quantizer artifacts are EXPLICIT frozen
    * inputs. This is the batch kernel
    * [[graft.streaming.StreamingSimScorer]] runs per micro-batch; fed
    * the corpus's own query rows it reproduces [[ivfPqRefineTopK]]
    * bit-for-bit (spec-proven). Self-matches (an external qid colliding
    * with a corpus vec_id) are excluded, matching s15/s16 semantics. */
  def ivfPqServe(queries: DataFrame, corpus: DataFrame, cents: DataFrame,
      cb: DataFrame, nProbe: Int = NProbe, m: Int = PqM,
      subDim: Int = PqSubDim, refineK: Int = RefineK, k: Int = 3,
      assigned: Option[DataFrame] = None,
      corpusCodes: Option[DataFrame] = None,
      excludeSelfIds: Boolean = false): DataFrame = {
    val q = withNorm(queries.select(col("qid").as("vec_id"),
        col("embedding")))
      .select(col("vec_id").as("qid"), col("embedding"),
        col("nrm").as("qn"))
    val probes = coarseProbesQ(q, cents, nProbe).select("qid", "cid")
    val cand0 = assigned.getOrElse(ivfAssign(corpus, cents))
      .join(broadcast(probes), "cid")
    // Self-exclusion on raw id equality is ONLY meaningful when qids ARE
    // corpus row ids (the s15/s16 batch-parity case); for genuinely
    // external query ids it would silently drop a legitimate neighbor
    // whose vec_id happens to collide, so it is opt-in, default OFF.
    val cand = (if (excludeSelfIds) cand0.filter(col("vec_id") =!= col("qid"))
      else cand0).select("qid", "vec_id")
    val codes = corpusCodes.getOrElse(pqCodesFor(corpus, cb, m, subDim))
    val lutAll = pqLutQ(q, cb, m, subDim)
    val lut = lutAll
      .select(col("qid"), col("qn"), col("m"), col("c").as("code"),
        col("pdot"))
    // the queries' own codes, derived FROM the LUT the serve path
    // already computes: the encode argmin key is cn2 − 2·dot(qsub,
    // csub) and the LUT's pdot IS that decimal dot (cn2 rides the LUT
    // row), so the min_by (with pqCodesFor's exact c·1e-14 tie-break)
    // reproduces the encode bit-for-bit at zero additional dot products
    // per batch. The exact-code channel still costs one small groupBy +
    // one broadcast per micro-batch (~20% serving qps at local sf0.1) —
    // the price of "an exact duplicate is never tie-cut out of
    // retrieval" holding for external queries too
    val qCodes = lutAll
      .groupBy(col("qid"), col("m"))
      .agg(min_by(col("c"), col("cn2") - lit(2) * col("pdot") +
        col("c") * lit(new java.math.BigDecimal("1E-14"))).as("code"))
      .select(col("qid").as("vec_id"), col("m"), col("code"))
    val retrieved = refineCandidates(cand, codes, lut, qCodes, refineK)
    exactCosRankedPairsQ(q, corpus, retrieved, k)
  }

  /** The shared ADC scoring + per-query ranking stage: candidate codes
    * meet the broadcast LUT, M partial dots sum map-side, the score
    * normalizes at the double boundary, and a per-query window keeps
    * top-`topK` — ONE definition, so the batch s15/s16 flow and the
    * serving path ([[ivfPqServe]]) cannot drift in score or tie-break.
    *
    * The cut is TIES-INCLUSIVE (`rank()` over the score alone, no id
    * tiebreak): every candidate tied with the k-th ADC score advances.
    * Compressed scores collapse distinct vectors onto few values (16-dim
    * histograms tie massively — m11), so a `row_number()` cut would let
    * an id-ordered tie displace an EXACT duplicate out of the refine
    * set; with `rank()` "a maximal-score candidate always reaches the
    * refine stage" holds by construction, and output growth is bounded
    * by the boundary tie mass. */
  private def adcRanked(cand: DataFrame, codes: DataFrame, lut: DataFrame,
      topK: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("pq_score").desc)
    adcScored(cand, codes, lut)
      .withColumn("rank", rank().over(w))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "neighbor_id", "pq_score")
  }

  /** The shared ADC scoring aggregation: one map-side-combined exchange
    * producing per (query, candidate) the normalized compressed score
    * AND the candidate's packed code key `nck` (the [[codeKeysOf]]
    * fingerprint, summed in the same pass — the refine channel's input
    * at zero extra exchanges). */
  private def adcScored(cand: DataFrame, codes: DataFrame,
      lut: DataFrame): DataFrame =
    cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("qid", "m", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("pdot")).as("adc"), max(col("nrm")).as("nrm"),
        max(col("qn")).as("qn"), packedCodeKey.as("nck"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        (col("adc").cast(DoubleType) / (col("qn") * col("nrm")))
          .as("pq_score"), col("nck"))

  // --- s17: incremental IVF-PQ index ingest --------------------------------
  /** New-batch membership for [[ivfPqIngest]]: `vec_id % IngestMod ==
    * IngestRem` plays the arriving batch, everything else (query vectors
    * aside) is the already-built index. The remainder is chosen OFF the
    * centroid stride's residue class (stride-sample ids are ≡ 0 mod
    * [[IngestMod]]), so the frozen coarse quantizer lives entirely in
    * the existing corpus — as it must: a maintained index never loses
    * its centroids to a batch boundary. */
  val IngestMod = 5
  val IngestRem = 3

  private def isIngestBatch = col("vec_id") % IngestMod === IngestRem

  /** Incremental IVF-PQ index maintenance (s17) — the similarity mirror
    * of d07's incremental dedup ingest: a 100 TB ANN index is MAINTAINED,
    * not rebuilt. The coarse centroids and the PQ codebook are FROZEN
    * artifacts of the existing index ([[centsOf]]/[[pqCodebook]] over
    * the existing corpus only — no retrain); the arriving batch is
    * assigned to its nearest existing inverted list and PQ-encoded
    * through the frozen codebook, with cost proportional to the BATCH
    * (one broadcast-centroid pass + one broadcast-codebook encode),
    * never the corpus. Assignment and encoding are per-vector functions
    * of the frozen artifacts, so ingest-then-union is bit-identical to
    * building from scratch on the union — the spec proves it.
    *
    * Output: the maintenance audit, one row per inverted list — members
    * before/after, the batch's additions, occupancy share drift (the
    * s10 balance alarm applied to ingest: drifting shares mean the
    * frozen quantizer no longer fits the data distribution and a
    * retrain+rebuild is due), and the integer mass of appended PQ codes
    * (exact proof the batch was encoded through the FROZEN codebook).
    * All counts exact; shares/drift are boundary divisions. */
  def ivfPqIngest(s: SparkSession, dir: String): DataFrame = {
    val existing = embeddings(s, dir)
      .filter(col("vec_id") >= NumQueries && !isIngestBatch)
    ivfPqIngestWith(s, dir, centsOf(existing), pqCodebook(existing))
  }

  /** [[ivfPqIngest]] through a PERSISTED artifact directory — the audit
    * accepts the [[graft.streaming.IndexDeployment.loadGen]]-shaped
    * `cents`/`cb` tables instead of re-deriving the quantizers from the
    * corpus scan per call: how a real maintenance job runs, its
    * artifacts read from the deployed generation, not retrained. Same
    * output as [[ivfPqIngest]] bit-for-bit (spec-proven; assignment and
    * encoding are pure functions of the artifacts). */
  def ivfPqIngestArtifacts(s: SparkSession, dir: String): DataFrame = {
    val (cents, cb) = loadArtifacts(s, ensureArtifacts(s, dir, "existing",
      embeddings(s, dir).filter(col("vec_id") >= NumQueries &&
        !isIngestBatch)))
    ivfPqIngestWith(s, dir, cents, cb)
  }

  private def ivfPqIngestWith(s: SparkSession, dir: String,
      cents: DataFrame, cb: DataFrame): DataFrame = {
    val e = embeddings(s, dir)
    val members = e.filter(col("vec_id") >= NumQueries)
    val batch = members.filter(isIngestBatch)
    // ONE centroid-scoring pass over all members (assignment is
    // per-vector, so splitting after costs nothing — the oracle's `mem`
    // shape); batch membership is a function of vec_id, recomputable on
    // the assignment output without a rejoin
    val assign = ivfAssign(members, cents)
    val before = assign.filter(!isIngestBatch)
      .groupBy("cid").agg(count(lit(1)).as("n_before"))
    val batchCodeSums = pqCodesFor(batch, cb, PqM, PqSubDim)
      .groupBy("vec_id").agg(sum(col("code")).as("code_sum"))
    val added = assign.filter(isIngestBatch)
      .join(batchCodeSums, "vec_id")
      .groupBy("cid").agg(count(lit(1)).as("n_added"),
        sum(col("code_sum")).as("code_mass_added"))
    val totals = before.agg(sum(col("n_before")).as("tot_before"))
      .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
    before.join(added, Seq("cid"), "left")
      .crossJoin(broadcast(totals))
      .select(col("cid"), col("n_before"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        (col("n_before") + coalesce(col("n_added"), lit(0L))).as("n_after"),
        (col("n_before").cast(DoubleType) / col("tot_before"))
          .as("share_before"),
        ((col("n_before") + coalesce(col("n_added"), lit(0L)))
          .cast(DoubleType) / (col("tot_before") + col("n_batch")))
          .as("share_after"),
        ((col("n_before") + coalesce(col("n_added"), lit(0L)))
          .cast(DoubleType) / (col("tot_before") + col("n_batch")) -
          col("n_before").cast(DoubleType) / col("tot_before"))
          .as("share_drift"),
        coalesce(col("code_mass_added"), lit(0L)).as("code_mass_added"))
  }

  /** Post-ingest retrieval quality (s17b) — the recall check that
    * closes s17's loop: search the UNION corpus through the FROZEN
    * (existing-trained) artifacts and compare recall@3 against the s15
    * baseline whose quantizer was built on the full corpus — the delta
    * IS the price of not retraining, the number an index operator
    * watches to schedule rebuilds (the s06-recall methodology, one
    * composed row).
    *
    * BOTH retrievals run at the frozen artifacts' OWN stride (the
    * adaptive sizing of the EXISTING corpus): the audit isolates
    * quantizer STALENESS, so the fresh baseline must differ only in
    * training data, not in K — a baseline re-sized to the grown corpus
    * would fold a deliberate K change into the staleness number (the
    * "phantom loss" the deployment measurement guards against;
    * [[graft.streaming.IndexDeployment.recallLossOf]] re-baselines at
    * the generation's recorded stride for the same reason, and this
    * shared rule is what keeps the two measurements IDENTICAL —
    * spec-proven). */
  def ivfPqIngestRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).persist()
    val existing = e.filter(col("vec_id") >= NumQueries && !isIngestBatch)
    val st = adaptiveStrideOf(existing)
    val afterIngest = ivfPqRankedFor(e, centsOf(existing, st),
      pqCodebook(existing)).select("qid", "neighbor_id")
    val baseline = ivfPqRanked(e, centroidStride = st)
      .select("qid", "neighbor_id")
    // persisted: BOTH hit counts (after-ingest and baseline) join against
    // this exact-scoring truth, and runtime exchange reuse does not dedup
    // the two consumers (the d15/s21 finding) — unpersisted, the full
    // brute-force decimal-dot pass ran twice. Same discipline as every
    // sibling recall eval (s06/s09/s12/s14/s19).
    val bf = bruteForceRanked(e)
      .filter(col("rank") <= 3).select("qid", "neighbor_id").persist()
    val nPossible = 3L * NumQueries
    val out = afterIngest.join(bf, Seq("qid", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(baseline.join(bf, Seq("qid", "neighbor_id"))
        .agg(count(lit(1)).as("n_base"))))
      .select(lit("ivfpq_ingest").as("method"), col("n_hits"),
        lit(nPossible).as("n_possible"),
        (col("n_hits").cast(DoubleType) / nPossible).as("recall_at_3"),
        (col("n_base").cast(DoubleType) / nPossible)
          .as("baseline_recall_at_3"),
        (col("n_hits").cast(DoubleType) / nPossible -
          col("n_base").cast(DoubleType) / nPossible).as("recall_delta"))
    evictAfter(out, e, bf)
  }

  /** Default absolute recall@3 loss an operator tolerates before
    * scheduling a retrain+rebuild ([[shouldRebuild]]). */
  val MaxIngestRecallLoss = 0.1

  /** The rebuild decision [[ivfPqIngestRecall]]'s delta feeds — the
    * consumption seam of the s17b audit, mirroring how the d15/s12/s14
    * sweeps feed `recommended*`: true when serving through the frozen
    * artifacts costs MORE than `maxRecallLoss` absolute recall@3 versus
    * the full-trained baseline. One driver-side read of a 1-row audit —
    * inherently a deploy-time decision, not a data path. */
  def shouldRebuild(s: SparkSession, dir: String,
      maxRecallLoss: Double = MaxIngestRecallLoss): Boolean =
    -ivfPqIngestRecall(s, dir).head().getAs[Double]("recall_delta") >
      maxRecallLoss

  // --- s18: tombstone delete + compaction audit ----------------------------
  /** Tombstone membership for [[ivfPqDelete]]: `vec_id % DeleteMod ==
    * DeleteRem` among index members plays the CDC delete feed — the
    * delete-propagation side of index maintenance (q04's semantics
    * applied to the ANN index, completing s17's insert side). The
    * residue class is chosen to OVERLAP the centroid stride (e.g.
    * vec_id 100 is both a centroid source and a tombstone): the frozen
    * coarse quantizer deliberately SURVIVES deletion of its training
    * rows — an index's artifacts outlive any individual vector, exactly
    * as a trained k-means quantizer would. */
  val DeleteMod = 7
  val DeleteRem = 2

  private[graft] def isTombstoned =
    col("vec_id") % DeleteMod === DeleteRem && col("vec_id") >= NumQueries

  /** Tombstone-delete compaction audit (s18) — the maintenance mirror of
    * [[ivfPqIngest]] for the OTHER CDC op: a delete feed tombstones
    * index members; compaction drops their list entries and their PQ
    * codes. Artifacts (centroids, codebook) stay FROZEN — deletes never
    * retrain a quantizer. Output: one row per inverted list — members
    * before, tombstoned members removed, members after, occupancy share
    * drift (a list hollowed out by deletes is wasted probe budget — the
    * rebalance alarm), and the integer mass of the PQ codes the
    * compaction reclaims (exact proof of WHICH encoded rows left the
    * index). Cost: one broadcast-centroid assignment pass over members
    * plus a codebook encode of the TOMBSTONED rows only — compaction
    * work is proportional to the delete feed, never the corpus. */
  def ivfPqDelete(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    ivfPqDeleteWith(s, dir, centsOf(e), pqCodebook(e))
  }

  /** [[ivfPqDelete]] through a PERSISTED artifact directory (the
    * [[ivfPqIngestArtifacts]] seam for the delete audit). */
  def ivfPqDeleteArtifacts(s: SparkSession, dir: String): DataFrame = {
    val (cents, cb) = loadArtifacts(s,
      ensureArtifacts(s, dir, "full", embeddings(s, dir)))
    ivfPqDeleteWith(s, dir, cents, cb)
  }

  private def ivfPqDeleteWith(s: SparkSession, dir: String,
      cents: DataFrame, cb: DataFrame): DataFrame = {
    val e = embeddings(s, dir)
    val members = e.filter(col("vec_id") >= NumQueries)
    val assign = ivfAssign(members, cents)
    val before = assign.groupBy("cid").agg(count(lit(1)).as("n_before"))
    val tombCodeSums = pqCodesFor(members.filter(isTombstoned), cb,
        PqM, PqSubDim)
      .groupBy("vec_id").agg(sum(col("code")).as("code_sum"))
    val removed = assign.join(tombCodeSums, "vec_id")
      .groupBy("cid").agg(count(lit(1)).as("n_removed"),
        sum(col("code_sum")).as("code_mass_removed"))
    val totals = before.agg(sum(col("n_before")).as("tot_before"))
      .crossJoin(members.filter(isTombstoned)
        .agg(count(lit(1)).as("n_tomb")))
    before.join(removed, Seq("cid"), "left")
      .crossJoin(broadcast(totals))
      .select(col("cid"), col("n_before"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("n_before") - coalesce(col("n_removed"), lit(0L))).as("n_after"),
        (col("n_before").cast(DoubleType) / col("tot_before"))
          .as("share_before"),
        ((col("n_before") - coalesce(col("n_removed"), lit(0L)))
          .cast(DoubleType) / (col("tot_before") - col("n_tomb")))
          .as("share_after"),
        ((col("n_before") - coalesce(col("n_removed"), lit(0L)))
          .cast(DoubleType) / (col("tot_before") - col("n_tomb")) -
          col("n_before").cast(DoubleType) / col("tot_before"))
          .as("share_drift"),
        coalesce(col("code_mass_removed"), lit(0L)).as("code_mass_removed"))
  }

  /** Post-delete retrieval (s18b) — the s15 search data flow over the
    * COMPACTED corpus through the PRE-DELETE frozen artifacts: tombstoned
    * vectors can never surface as candidates (they left the inverted
    * lists), while centroids and codebook are unchanged — a delete feed
    * must never silently degrade surviving neighbors' scores. The spec
    * proves this equals a scratch rebuild on the remaining corpus under
    * the same frozen artifacts (per-vector assignment/encoding is pure),
    * so compaction is just dropping rows — no re-encode of survivors. */
  def ivfPqDeleteServe(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    ivfPqRankedFor(e.filter(!isTombstoned), centsOf(e), pqCodebook(e))
  }

  // --- s20: shard-parallel build + merge audit ------------------------------
  /** Shard split for [[ivfPqShardMerge]]: members build in `ShardMod`
    * independent worker partitions. */
  val ShardMod = 2

  /** Shard-parallel index build merge audit (s20) — HOW a 100 TB IVF-PQ
    * index is actually constructed: the quantizer artifacts (centroids +
    * codebook) are trained once and SHIPPED to every build worker; each
    * worker assigns + PQ-encodes its own shard of the corpus
    * independently (embarrassingly parallel — per-vector pure functions
    * of the frozen artifacts); the merge step is pure list
    * concatenation. Output: one row per inverted list — each shard's
    * contribution (member count and exact PQ code mass: the list-file
    * sizes a merge planner schedules by) and the merged totals. The spec
    * proves the merge invariant: encode(shard₀) ∪ encode(shard₁) is
    * bit-identical to a one-shot build over the union, so merging never
    * re-encodes. */
  def ivfPqShardMerge(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    ivfPqShardMergeWith(s, dir, centsOf(e), pqCodebook(e))
  }

  /** [[ivfPqShardMerge]] through a PERSISTED artifact directory — the
    * exact production shape: build workers NEVER derive quantizers; they
    * read the trained tables shipped to them. */
  def ivfPqShardMergeArtifacts(s: SparkSession, dir: String): DataFrame = {
    val (cents, cb) = loadArtifacts(s,
      ensureArtifacts(s, dir, "full", embeddings(s, dir)))
    ivfPqShardMergeWith(s, dir, cents, cb)
  }

  private def ivfPqShardMergeWith(s: SparkSession, dir: String,
      cents: DataFrame, cb: DataFrame): DataFrame = {
    val e = embeddings(s, dir)
    val members = e.filter(col("vec_id") >= NumQueries)
    val codeSums = pqCodesFor(members, cb, PqM, PqSubDim)
      .groupBy("vec_id").agg(sum(col("code")).as("code_sum"))
    val shard = col("vec_id") % ShardMod
    ivfAssign(members, cents).join(codeSums, "vec_id")
      .groupBy("cid")
      .agg(sum(when(shard === 0, 1L).otherwise(0L)).as("n_shard0"),
        sum(when(shard === 1, 1L).otherwise(0L)).as("n_shard1"),
        count(lit(1)).as("n_merged"),
        sum(when(shard === 0, col("code_sum")).otherwise(0L))
          .as("code_mass_shard0"),
        sum(when(shard === 1, col("code_sum")).otherwise(0L))
          .as("code_mass_shard1"),
        sum(col("code_sum")).as("code_mass_merged"))
  }

  // --- s21: filtered-ANN strategy audit ------------------------------------
  /** Pre-filter vs post-filter through the compressed index (s21) — THE
    * standing design decision of filtered vector search, measured on the
    * actual corpus before a deployment commits to one:
    *  - POST-filter: retrieve [[RefineK]] by unfiltered ADC (the plain
    *    s15 flow), then drop label mismatches and keep the first 3
    *    survivors. Cheap (shares the unfiltered index) but STARVES when
    *    few of the top-K match the predicate — it can return fewer than
    *    3 answers and miss matches sitting just below the cutoff.
    *  - PRE-filter: restrict the probed inverted lists to label matches
    *    BEFORE ADC scoring, ranking the full top-3 budget inside the
    *    filter. Never starves within the probed lists; scores fewer
    *    candidates (the work column shows exactly how many).
    * Both strategies are scored against s08's exact filtered truth.
    * Output: one row per strategy — answers returned, exact-truth size,
    * hits, recall, and mean scored candidates per query (the cost axis).
    * At 100 TB both run on the same compressed index; the audit is the
    * go/no-go between them, the filtered companion of [[annRecall]]. */
  def filteredAnnAudit(s: SparkSession, dir: String): DataFrame = {
    val e0 = embeddings(s, dir)
    filteredAnnAuditWith(s, dir, centsOf(e0), pqCodebook(e0))
  }

  /** [[filteredAnnAudit]] through a PERSISTED artifact directory (the
    * [[ivfPqIngestArtifacts]] seam for the strategy audit). */
  def filteredAnnAuditArtifacts(s: SparkSession, dir: String): DataFrame = {
    val (cents, cb) = loadArtifacts(s,
      ensureArtifacts(s, dir, "full", embeddings(s, dir)))
    filteredAnnAuditWith(s, dir, cents, cb)
  }

  private def filteredAnnAuditWith(s: SparkSession, dir: String,
      cents: DataFrame, cb: DataFrame): DataFrame = {
    val e = embeddings(s, dir).persist()
    val lbl = Tables.spread(s, dir, "embeddings", "vec_id")
      .select(col("vec_id"), col("label"))
    val qlbl = lbl.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"))
    val probes = coarseProbes(e, cents, NumQueries, NProbe)
      .select("qid", "cid")
    // ONE candidate materialization carries the match flag; both
    // strategies (and both work counters) read it
    val candAll = ivfAssign(e, cents).join(lbl, "vec_id")
      .join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(qlbl), "qid")
      .select(col("qid"), col("vec_id"),
        (col("label") === col("qlabel")).as("is_match"))
      .persist()
    val codes = pqCodesFor(e, cb, PqM, PqSubDim)
    val lut = pqLutFor(e, cb, PqM, PqSubDim)
      .select(col("qid"), col("qn"), col("m"), col("c").as("code"),
        col("pdot"))
    val pre = adcRanked(candAll.filter(col("is_match"))
      .select("qid", "vec_id"), codes, lut, 3)
    val post = adcRanked(candAll.select("qid", "vec_id"), codes, lut,
        RefineK)
      .join(lbl.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .join(broadcast(qlbl), "qid")
      .filter(col("label") === col("qlabel"))
      // ADC rank now carries ties — break on neighbor_id so keep-3 stays
      // deterministic
      .withColumn("rr", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("rank"), col("neighbor_id"))))
      .filter(col("rr") <= 3)
    val truthPairs = filteredTopKOf(e.join(lbl, "vec_id"))
      .select("qid", "neighbor_id").persist()
    val nTruth = truthPairs.agg(count(lit(1)).as("n_truth"))
    // n_hits and n_retrieved from ONE pass over `res`: a left join
    // against the (unique-pair) truth with count(marker) counting the
    // matches — the inner-join count + separate count(*) shape evaluated
    // the whole adcRanked subtree twice per strategy (runtime exchange
    // reuse does not dedup it: 0 ReusedExchange over these subtrees in
    // the captured final plan). Values are identical: truth pairs are
    // unique per (qid, neighbor_id), so left-join match-count ==
    // inner-join row count, and count(1) over the left join == |res|.
    def strategyRow(name: String, res: DataFrame,
        cand: DataFrame): DataFrame =
      res.select("qid", "neighbor_id")
        .join(broadcast(truthPairs.select(col("qid"), col("neighbor_id"),
          lit(1).as("t"))), Seq("qid", "neighbor_id"), "left")
        .agg(count(col("t")).as("n_hits"),
          count(lit(1)).as("n_retrieved"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(broadcast(nTruth))
        .select(lit(name).as("method"), col("n_retrieved"), col("n_truth"),
          col("n_hits"),
          (col("n_hits").cast(DoubleType) / col("n_truth"))
            .as("recall_vs_exact"),
          (col("n_candidates").cast(DoubleType) / NumQueries)
            .as("mean_candidates_per_query"))
    val out = strategyRow("prefilter", pre,
      candAll.filter(col("is_match")))
      .unionByName(strategyRow("postfilter", post, candAll))
    evictAfter(out, e, candAll, truthPairs)
  }

  /** Subspace counts [[pqTuningSweep]] sweeps — 64-dim vectors split
    * into 4×16-dim, 8×8-dim (production [[PqM]]) or 16×4-dim codes. */
  val PqSweepMs: Seq[Int] = Seq(4, 8, 16)

  /** PQ operating-point sweep (s14) — the third tuning audit beside the
    * LSH band grids (d15) and IVF probe budgets (s12): for each subspace
    * count M, recall@3 of the full encode→ADC pipeline vs the exact
    * baseline, with the code size per vector. More subspaces = finer
    * quantization = higher recall AND more bytes — the size/recall curve
    * measured on the actual corpus before a compressed 100-TB index
    * commits to one M. The embedding scan and the brute-force truth are
    * computed once and shared across the sweep (persisted, evicted after
    * eager materialization — the s06/s09 pattern); each sweep point runs
    * the parameterized [[pqRanked]] at its own (m, subDim). */
  def pqTuningSweep(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).persist()
    val bf = bruteForceRanked(e)
      .filter(col("rank") <= 3).select("qid", "neighbor_id").persist()
    val rows = PqSweepMs.map { m =>
      val sd = Dim / m
      pqRanked(e, m, sd)
        .select("qid", "neighbor_id")
        .join(broadcast(bf), Seq("qid", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(m).as("pq_m"), lit(sd).as("subdim"),
          lit(m.toLong).as("bytes_per_vec"), col("n_hits"),
          lit(3L * NumQueries).as("n_possible"),
          (col("n_hits").cast(DoubleType) / (3L * NumQueries))
            .as("recall_at_3"))
    }
    evictAfter(Dedup.markRecommended(rows.reduce(_.unionByName(_)),
      quality = col("recall_at_3"), cost = col("bytes_per_vec"),
      param = col("pq_m")), e, bf)
  }

  /** The subspace count [[pqTuningSweep]] recommends, for [[pqTopK]]'s
    * explicit-M overload. */
  def recommendedPqM(s: SparkSession, dir: String): Int =
    pqTuningSweep(s, dir).filter(col("recommended")).head()
      .getAs[Int]("pq_m")

  /** Prefix widths [[dimTuningSweep]] evaluates (full [[Dim]] last — its
    * recall is 1.0 by construction, anchoring the curve). */
  val DimSweep: Seq[Int] = Seq(16, 32, 64)

  /** Truncated-dimension search sweep (s19) — the Matryoshka-
    * representation cost lever, the THIRD axis of the tuning cube beside
    * the probe budget (s12) and the PQ subspace count (s14): search with
    * only the FIRST d dimensions of every vector (prefix truncation —
    * the MRL convention of information ordered by prefix) and report
    * recall@3 against the full-dimension exact truth, with the bytes per
    * vector the width costs. Dimension cut is LINEAR in both storage and
    * dot-product work at 100 TB and composes multiplicatively with
    * IVF pruning and PQ compression. Exact-decimal dots at every width
    * (the s01 contract), so the sweep is oracle-replayable;
    * `recommended` marks the cheapest width retaining ≥ 95% of the best
    * recall (the d15/s12/s14 selection rule). */
  def dimTuningSweep(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).persist()
    val bf = bruteForceRanked(e).filter(col("rank") <= 3)
      .select("qid", "neighbor_id").persist()
    val rows = DimSweep.map { d =>
      val te = withNorm(e.select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding")))
      bruteForceRanked(te).filter(col("rank") <= 3)
        .select("qid", "neighbor_id")
        .join(broadcast(bf), Seq("qid", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d).as("dims"), lit(4L * d).as("bytes_per_vec"),
          col("n_hits"), lit(3L * NumQueries).as("n_possible"),
          (col("n_hits").cast(DoubleType) / (3L * NumQueries))
            .as("recall_at_3"))
    }
    evictAfter(Dedup.markRecommended(rows.reduce(_.unionByName(_)),
      quality = col("recall_at_3"), cost = col("bytes_per_vec"),
      param = col("dims")), e, bf)
  }

  /** The prefix width [[dimTuningSweep]] recommends — the width a
    * truncated index would be built at. */
  def recommendedDims(s: SparkSession, dir: String): Int =
    dimTuningSweep(s, dir).filter(col("recommended")).head()
      .getAs[Int]("dims")

  // --- filtered (predicated) vector search ---------------------------------
  /** Filtered top-k — the "hybrid search" every production vector store
    * exposes: nearest neighbors AMONG vectors satisfying a metadata
    * predicate, here `label = query.label` (the first use of the
    * embeddings table's label column). Post-filtering a plain top-k is
    * wrong (k survivors are not the k nearest survivors), so the
    * predicate joins INTO candidate generation: the label equi-join both
    * enforces the filter and partitions the search space — at 100 TB this
    * is a broadcast of the query set keyed by label, candidates shrink to
    * the label's partition, and exact re-scoring runs only there. Scoring
    * is the s01 exact-decimal contract.
    */
  def filteredTopK(s: SparkSession, dir: String): DataFrame =
    filteredTopKOf(Tables.spread(s, dir, "embeddings", "vec_id")
      .select(col("vec_id"), col("label"), col("embedding"),
        normD(col("embedding")).as("nrm")))

  /** [[filteredTopK]] over an explicit `(vec_id, label, embedding, nrm)`
    * frame — the seam the s21 strategy audit feeds its already-normed
    * (persisted) scan through instead of paying a second exact-decimal
    * norm pass over the corpus. */
  private[graft] def filteredTopKOf(base: DataFrame): DataFrame = {
    val q = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qv"), col("nrm").as("qn"))
    val scored = base.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id").as("neighbor_id"),
        (dotDec(col("qv"), col("embedding")).cast(DoubleType) /
          (col("qn") * col("nrm"))).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("qid", "qlabel", "rank", "neighbor_id", "cos_sim")
  }

  // --- ANN recall evaluation ----------------------------------------------
  /** Recall@3 of the three approximate indexes ([[annLsh]], [[annIvf]],
    * and the composed [[ivfPqTopK]]) against the exact baseline
    * ([[bruteForceTopK]]) — the measurement a pipeline runs before
    * trusting an ANN index at scale. One row per method: ground-truth
    * hits, possible hits, recall. The pipelines already exist; this
    * composes them with semi-join counts, so the eval costs one extra
    * pass over tiny top-k outputs — at 100 TB you run it on a sampled
    * query set exactly like this.
    *
    * On THIS corpus expect low numbers (sf0.1: lsh 0.00, ivf 0.27): the
    * synthetic embeddings are uniform random, so near-neighbors sit just
    * above the bulk and hash/probe locality barely helps — which is
    * precisely the go/no-go signal the measurement exists to produce
    * (see the s04 recall spec for the clustered-corpus counterpoint).
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    // One scan+norm for every sub-pipeline (they used to recompute it
    // independently — 4 scans, 12 shuffles); the frame is small relative to
    // executor memory even per-partition at scale.
    val e = embeddings(s, dir).persist()
    // bf ground truth feeds every hit count; it is Q·K rows — persist so the
    // expensive exact-scoring DAG executes once, not per join.
    val bf = bruteForceRanked(e)
      .filter(col("rank") <= 3).select("qid", "neighbor_id").persist()
    // bf is Q·K rows — broadcast explicitly: the persisted frame carries no
    // stats until materialized, so the static planner would sort-merge
    def hits(df: DataFrame, name: String): DataFrame =
      df.select("qid", "neighbor_id")
        .join(broadcast(bf), Seq("qid", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(name).as("method"), col("n_hits"))
    val out = hits(annLshRanked(e), "lsh")
      .unionByName(hits(annIvfRanked(e), "ivf"))
      .unionByName(hits(ivfPqRanked(e), "ivfpq")) // the composed index too
      .select(col("method"), col("n_hits"),
        lit(3L * NumQueries).as("n_possible"),
        (col("n_hits").cast(DoubleType) / (3L * NumQueries)).as("recall_at_3"))
    evictAfter(out, e, bf)
  }

  /** Eagerly materialize a (tiny) eval result via localCheckpoint, then
    * unpersist its cached inputs. Leaving them persisted leaks beyond the
    * query: Spark's cache manager substitutes the cached plan into ANY
    * later query over the same scan, so a standalone run of e.g. s07
    * would silently depend on whether s06 ran first — wrong plans in the
    * audit and cache-backed timings in the bench. */
  private[graft] def evictAfter(out: DataFrame,
      cached: DataFrame*): DataFrame = {
    // the checkpoint hides this pipeline from any later explain — hand
    // the pre-materialization plan to the audit while the inputs are
    // still persisted (no-op outside PlanAudit)
    graft.plans.PlanCapture.note("pipeline", out)
    val materialized = out.localCheckpoint(true)
    cached.foreach(_.unpersist())
    materialized
  }

  // --- compression-quality evaluation --------------------------------------
  /** Recall@3 of the two LOSSY-SCORING paths — int8 symmetric quantization
    * ([[quantizedTopK]]) and product quantization ([[pqTopK]]) — against
    * the exact baseline: the go/no-go measurement before shipping a
    * compressed 100-TB index, composing the existing rankings with two
    * tiny semi-join counts exactly as [[annRecall]] does for the ANN
    * indexes. Expect int8 ≈ 1.0 (≤0.8% per-element error) and PQ well
    * below it (whole-subvector codes) — the size/recall trade the eval
    * exists to quantify.
    */
  def quantizationRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).persist()
    val bf = bruteForceRanked(e)
      .filter(col("rank") <= 3).select("qid", "neighbor_id").persist()
    def hits(df: DataFrame, name: String): DataFrame =
      df.select("qid", "neighbor_id")
        .join(broadcast(bf), Seq("qid", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(name).as("method"), col("n_hits"))
    val int8 = quantizedRanked(Tables.spread(s, dir, "embeddings", "vec_id"))
    val out = hits(int8, "int8").unionByName(hits(pqRanked(e), "pq"))
      .select(col("method"), col("n_hits"),
        lit(3L * NumQueries).as("n_possible"),
        (col("n_hits").cast(DoubleType) / (3L * NumQueries)).as("recall_at_3"))
    evictAfter(out, e, bf)
  }

  def annLsh(s: SparkSession, dir: String): DataFrame =
    annLshRanked(embeddings(s, dir))

  private[graft] def annLshRanked(e0: DataFrame): DataFrame = {
    // bucket is a pure map-side column — no scan-vs-scan self-join needed
    val e = bucketed(e0)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qbucket"))
    // candidate set = same-bucket vectors only (the whole point of LSH)
    val scored = e.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        (dotDec(col("qv"), col("embedding")).cast(DoubleType) /
          (col("qn") * col("nrm"))).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "neighbor_id", "cos_sim")
  }
}
