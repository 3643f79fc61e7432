package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.DoubleType
import graft.fs.CommitFiles
import graft.operators.Similarity

/** Blue/green ANN index deployment — the executor of
  * [[graft.operators.Similarity.shouldRebuild]]'s decision, completing
  * the index lifecycle (ingest, delete, merge, CDC, serve — and now
  * REBUILD):
  * each index GENERATION lives under its own `gen=N` directory
  * (quantizer artifacts + assignment + codes + corpus — everything
  * [[StreamingSimScorer.Index]] serves from), and a one-line `CURRENT`
  * pointer names the live generation. A rebuild retrains the quantizers
  * on the CURRENT corpus, builds the green index offline via the s20
  * shard path (frozen artifacts shipped to shard builders, merge = list
  * concatenation), and then swaps the pointer ATOMICALLY
  * ([[graft.fs.CommitFiles]]'s swap, as UpsertStateStore swaps `_LATEST`)
  * — serving never sees a half-built index, and queries in flight finish
  * on the generation their micro-batch started on. Every swap stages
  * through its own temp name, so a deploy and a rollback racing on
  * `CURRENT` cannot interleave on a shared staging file: the last rename
  * wins whole.
  *
  * Shape at 100 TB: the build runs beside serving (blue keeps
  * answering), shard encodes are embarrassingly parallel per-vector
  * functions of broadcast artifacts, and the swap costs one metadata
  * rename. Old generations stay on disk as [[rollback]] targets until
  * [[gcGenerations]] prunes them on the operator's cadence. */
object IndexDeployment {

  private val Pointer = "CURRENT"
  private val GridFile = "GRID"
  private val DoneFile = "_DONE"

  private def genName(gen: Long) = s"gen=$gen"
  private def genDir(rootDir: String, gen: Long) = s"$rootDir/${genName(gen)}"

  /** The live generation, or None before the first deploy. */
  def currentGen(s: SparkSession, rootDir: String): Option[Long] =
    CommitFiles(s, rootDir).read(Pointer).map(_.toLong)

  /** A generation's recorded `GRID` line, `m subDim [centroidStride]`:
    * the geometry is a property of the BUILD, so serving/measuring
    * through the generation must read it back rather than assume the
    * text default (a 16-dim image index deployed here would otherwise be
    * sliced at the 8×8 text grid into empty subvectors). None for a
    * generation deployed before grids were recorded. */
  private def grid(s: SparkSession, rootDir: String, gen: Long): Option[Array[Int]] =
    CommitFiles(s, rootDir).read(s"${genName(gen)}/$GridFile")
      .map(_.split(" ").map(_.toInt))

  /** A generation's PQ grid `(m, subDim)`; generations deployed before
    * grids were recorded default to the text grid they were built at. */
  def gridOf(s: SparkSession, rootDir: String, gen: Long): (Int, Int) =
    grid(s, rootDir, gen).fold((Similarity.PqM, Similarity.PqSubDim))(g => (g(0), g(1)))

  /** A generation's coarse-quantizer stride (the K ≈ N/stride knob a
    * 100 TB deploy sizes to keep assignment subquadratic — see
    * [[Similarity.CentroidStride]]'s scale note); generations recorded
    * before the stride rode the GRID file default to the fixture
    * constant they were built at. */
  def strideOf(s: SparkSession, rootDir: String, gen: Long): Int =
    grid(s, rootDir, gen).collect { case g if g.length >= 3 => g(2) }
      .getOrElse(Similarity.CentroidStride)

  /** Build one generation's full artifact set and PUBLISH it: quantizers
    * (centroids + codebook) trained on `train`, then the s20
    * shard-parallel build of the serving tables over `corpus` — each
    * shard assigns + PQ-encodes its own slice through the FROZEN
    * artifacts, and the merge is a plain union (spec-proven bit-equal
    * to a one-shot build by `ivfPqShardMerge`'s invariant). The pointer
    * flips only after every table is fully written — the green index
    * becomes visible all-or-nothing. Returns the new generation.
    *
    * `train` vs `corpus` is the real lifecycle seam: a CDC-maintained
    * index serves a GROWN corpus through artifacts trained on an older
    * one (the s17 situation this module exists to repair) — a rebuild
    * passes the same frame for both. */
  def deploy(s: SparkSession, train: DataFrame, corpus: DataFrame,
      rootDir: String, shards: Int = Similarity.ShardMod,
      m: Int = Similarity.PqM,
      subDim: Int = Similarity.PqSubDim,
      centroidStride: Int = Similarity.AdaptiveStride): Long = {
    // resolve the adaptive sentinel BEFORE recording: the GRID file
    // carries the concrete stride this generation was built at, so
    // rebuilds/rollbacks reproduce it even after the corpus has grown
    val stride =
      if (centroidStride == Similarity.AdaptiveStride)
        Similarity.adaptiveStrideOf(train)
      else centroidStride
    // next = 1 + max over BOTH the pointer and the on-disk dirs: after a
    // rollback the pointer sits below already-built generations, and
    // pointer+1 would overwrite a live rollback target in place (five
    // separate table writes — a mid-sequence crash would leave a
    // mixed-generation artifact set that still passes rollback's
    // exists() check)
    val gen = (currentGen(s, rootDir).toSeq ++ generations(s, rootDir))
      .reduceOption(_ max _).map(_ + 1).getOrElse(0L)
    val dir = genDir(rootDir, gen)
    val files = CommitFiles(s, rootDir)
    // persist only what we persisted: a caller sharing one cached frame
    // across measure + rebuild (rebuildFromCdc) keeps its cache
    val owned = corpus.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val e = if (owned) corpus.persist() else corpus
    try {
      val cents = Similarity.centsOf(train, stride).persist()
      val cb = Similarity.pqCodebook(train, m, subDim).persist()
      try {
        files.mkdirs(genName(gen))
        files.swap(s"${genName(gen)}/$GridFile", s"$m $subDim $stride\n")
        cents.write.mode("overwrite").parquet(s"$dir/cents")
        cb.write.mode("overwrite").parquet(s"$dir/cb")
        e.write.mode("overwrite").parquet(s"$dir/corpus")
        // s20 shard path: per-shard assign/encode through the frozen
        // artifacts, merged by union — never a re-encode
        def sharded(build: DataFrame => DataFrame): DataFrame =
          (0 until shards).map(k =>
            build(e.filter(col("vec_id") % shards === k)))
            .reduce(_ unionByName _)
        sharded(Similarity.ivfAssign(_, cents))
          .write.mode("overwrite").parquet(s"$dir/assign")
        sharded(Similarity.pqCodesFor(_, cb, m, subDim))
          .write.mode("overwrite").parquet(s"$dir/codes")
      } finally { cents.unpersist(); cb.unpersist(); () }
      // completion marker AFTER every table, BEFORE the flip: a crash
      // mid-deploy leaves a gen dir with tables missing — rollback must
      // be able to tell that apart from a complete generation
      files.mark(s"${genName(gen)}/$DoneFile")
      files.swap(Pointer, s"$gen\n")
      gen
    } finally { if (owned) e.unpersist(); () }
  }

  /** Load a generation's serving artifacts (cached + materialized, the
    * [[StreamingSimScorer.buildIndex]] contract). */
  def loadGen(s: SparkSession, rootDir: String,
      gen: Long): StreamingSimScorer.Index = {
    val dir = genDir(rootDir, gen)
    val (m, subDim) = gridOf(s, rootDir, gen)
    def rd(name: String) = s.read.parquet(s"$dir/$name").persist()
    val idx = StreamingSimScorer.Index(rd("cents"), rd("cb"),
      rd("corpus"), rd("assign"), rd("codes"), m, subDim)
    Seq(idx.cents, idx.cb, idx.corpus, idx.assign, idx.codes)
      .foreach(_.count())
    idx
  }

  /** Absolute recall@3 loss of serving through the DEPLOYED quantizers
    * versus a full-trained build, on the current corpus — the
    * [[Similarity.shouldRebuild]] measurement taken through the live
    * deployment instead of the s17 fixture. Driver-side read of a
    * 1-row audit: a deploy-time decision, not a data path. */
  def recallLoss(s: SparkSession, sfDir: String, rootDir: String): Double =
    recallLossOf(s, Similarity.embeddings(s, sfDir), rootDir)

  /** [[recallLoss]] over an EXPLICIT `(vec_id, embedding, nrm)` corpus —
    * the seam through which the CDC-maintained survivor view is
    * measured ([[rebuildFromCdc]]). */
  def recallLossOf(s: SparkSession, corpus: DataFrame,
      rootDir: String): Double = {
    val gen = currentGen(s, rootDir).getOrElse(
      throw new IllegalStateException(s"no deployed index under $rootDir"))
    val dir = genDir(rootDir, gen)
    // measure AND re-baseline at the generation's own grid AND stride —
    // both are properties of the deployment, not of this module's text
    // defaults (a fresh-rebuild baseline at the wrong K would call a
    // healthy index stale, or the reverse)
    val (m, subDim) = gridOf(s, rootDir, gen)
    val stride = strideOf(s, rootDir, gen)
    val owned = corpus.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val e = if (owned) corpus.persist() else corpus
    try {
      val served = Similarity
        .ivfPqRankedFor(e, s.read.parquet(s"$dir/cents"),
          s.read.parquet(s"$dir/cb"), m = m, subDim = subDim)
        .select("qid", "neighbor_id")
      val baseline = Similarity.ivfPqRanked(e, m = m, subDim = subDim,
          centroidStride = stride)
        .select("qid", "neighbor_id")
      val bf = Similarity.bruteForceRanked(e)
        .filter(col("rank") <= 3).select("qid", "neighbor_id")
      val nPossible = 3.0 * Similarity.NumQueries
      val row = baseline.join(bf, Seq("qid", "neighbor_id"))
        .agg(count(lit(1)).as("n_base"))
        .crossJoin(broadcast(served.join(bf, Seq("qid", "neighbor_id"))
          .agg(count(lit(1)).as("n_served"))))
        .select((col("n_base").cast(DoubleType) / nPossible -
          col("n_served").cast(DoubleType) / nPossible).as("loss"))
        .head()
      row.getAs[Double]("loss")
    } finally { if (owned) e.unpersist(); () }
  }

  /** Execute the `shouldRebuild` decision: measure [[recallLoss]]
    * through the live generation; above the budget, retrain on the
    * CURRENT corpus, shard-build the green index, and atomically swap.
    * Returns the new generation when a rebuild ran. After the swap the
    * quantizers ARE full-trained, so the measured loss returns to zero
    * and the decision flips back to false — the lifecycle closes. */
  def rebuildIfNeeded(s: SparkSession, sfDir: String, rootDir: String,
      maxRecallLoss: Double = Similarity.MaxIngestRecallLoss)
      : Option[Long] =
    if (recallLoss(s, sfDir, rootDir) > maxRecallLoss) {
      val e = Similarity.embeddings(s, sfDir)
      // rebuild at the LIVE generation's grid and stride (the
      // measurement above already ran at them) — a rebuild repairs
      // quantizer staleness, it must never silently change the index
      // geometry or its K sizing
      val gen = currentGen(s, rootDir).getOrElse(
        throw new IllegalStateException(
          s"no deployed index under $rootDir"))
      val (m, subDim) = gridOf(s, rootDir, gen)
      Some(deploy(s, e, e, rootDir, m = m, subDim = subDim,
        centroidStride = strideOf(s, rootDir, gen)))
    } else None

  /** Close the lifecycle loop on ONE index: the corpus that gets
    * MEASURED, REBUILT, and SWAPPED is the CDC maintainer's survivor
    * view ([[StreamingIndexCdc.readSurvivors]] over its `corpusDir` +
    * shared tombstones) — not a raw table the maintenance never touched.
    * Measure [[recallLossOf]] through the live generation against the
    * survivors; above budget, retrain on the survivors, shard-build the
    * green index over them, swap. After the swap the quantizers are
    * survivor-trained, so the measured loss returns to zero exactly as
    * in [[rebuildIfNeeded]] — but now ingest, deletes, measurement, and
    * rebuild all see the same corpus (spec-proven: post-swap serving
    * equals a scratch build on the survivors). */
  def rebuildFromCdc(s: SparkSession, corpusDir: String, tombDir: String,
      rootDir: String,
      maxRecallLoss: Double = Similarity.MaxIngestRecallLoss,
      indexDir: Option[String] = None): Option[Long] = {
    // resolve the survivor store ONCE (keepSeq) and persist that: both
    // the coverage guard (vec_id, seq) and the measure/train corpus
    // (vec_id, embedding) are projections of the same resolution —
    // resolving twice would double the store scan + version-resolution
    // shuffle on exactly the batch-cadence maintenance path
    val resolved = StreamingIndexCdc
      .readSurvivors(s, corpusDir, tombDir, keepSeq = true).persist()
    // the normed view is ALSO persisted: recall-loss measure, retrain,
    // and build each act on it, and withNorm's exact-decimal norm is
    // expensive enough that re-deriving it per action would forfeit
    // the single-store-scan win the shared `resolved` buys
    val survivors = Similarity.withNorm(
      resolved.select("vec_id", "embedding")).persist()
    try {
      // coverage guard: corpusDir is opt-in per applyBatch call, so a
      // survivor view enabled mid-stream (or disabled for a batch)
      // silently misses vectors OR serves stale versions of updated
      // ones — rebuilding on it would drop/revert them in serving.
      // When the caller hands us the live CDC index, refuse a rebuild
      // whose training view doesn't cover the live WINNING VERSIONS
      // (vec_id + seq, not bare existence: an update applied to the
      // index but absent from the raw corpus must fail the guard too).
      indexDir.foreach { idxDir =>
        val live = StreamingIndexCdc.readIndex(s, idxDir, tombDir)
          .select("vec_id", "seq").distinct()
        val survSeqs = resolved.select("vec_id", "seq")
        val uncovered = live
          .join(survSeqs, Seq("vec_id", "seq"), "left_anti")
          .count()
        require(uncovered == 0L,
          s"survivor view at $corpusDir misses $uncovered live index " +
            "winning versions — corpusDir skipped some batches; " +
            "backfill the raw corpus before rebuilding from it")
      }
      if (recallLossOf(s, survivors, rootDir) > maxRecallLoss) {
        // rebuild preserves the deployed geometry AND stride — both
        // belong to the vector space the CDC feed populates
        val gen = currentGen(s, rootDir).getOrElse(
          throw new IllegalStateException(
            s"no deployed index under $rootDir"))
        val (m, subDim) = gridOf(s, rootDir, gen)
        Some(deploy(s, survivors, survivors, rootDir, m = m,
          subDim = subDim, centroidStride = strideOf(s, rootDir, gen)))
      } else None
    } finally { survivors.unpersist(); resolved.unpersist(); () }
  }

  /** Flip the pointer BACK to an existing generation — the operator's
    * escape hatch after a bad rebuild: one atomic metadata rename, no
    * data movement; serving sessions follow at their next micro-batch
    * (the same single-generation-per-batch rule as a forward swap).
    * Refuses a generation that is not COMPLETE on disk: GC'd, never
    * built, or a crashed deploy's partial dir (the `_DONE` marker is
    * written after the last table, so its presence is the
    * all-tables-present proof bare directory existence is not). */
  def rollback(s: SparkSession, rootDir: String, gen: Long): Unit = {
    val files = CommitFiles(s, rootDir)
    require(files.exists(s"${genName(gen)}/$DoneFile"),
      s"generation $gen is absent or incomplete under $rootDir")
    files.swap(Pointer, s"$gen\n")
  }

  /** The on-disk generations, ascending. */
  def generations(s: SparkSession, rootDir: String): Seq[Long] =
    CommitFiles(s, rootDir).list("").map(_.getPath.getName)
      .filter(_.startsWith("gen=")).map(_.stripPrefix("gen=").toLong)
      .sorted

  /** Retention-prune old generations: the LIVE generation always
    * survives, plus the `keep` highest-numbered other COMPLETE ones —
    * the rollback window. The window ranges over complete (`_DONE`)
    * generations only, so a crashed deploy's partial dir can never
    * occupy a rollback slot while the real rollback target is deleted;
    * and incomplete dirs are never deleted either — an incomplete dir
    * is indistinguishable from a green build IN FLIGHT, and GC running
    * beside a deploy must not pull the build out from under it (crashed
    * partials therefore linger until a later deploy reuses numbers past
    * them; they are bounded by crash count, not by corpus size).
    * Without a cleanup cadence old `gen=N` directories accumulate
    * forever; with one, disk is bounded by (keep+1) index copies plus
    * any partials. Returns the deleted generations (ascending). */
  def gcGenerations(s: SparkSession, rootDir: String,
      keep: Int = 1): Seq[Long] = {
    require(keep >= 0, s"keep must be non-negative, got $keep")
    val live = currentGen(s, rootDir)
    val files = CommitFiles(s, rootDir)
    val complete = generations(s, rootDir).filter(g =>
      files.exists(s"${genName(g)}/$DoneFile"))
    val drop = complete.filterNot(live.contains).dropRight(keep)
    drop.foreach(g => files.delete(genName(g)))
    drop
  }

  /** Serving session that follows the pointer: each micro-batch is
    * answered ENTIRELY by the generation current at its start (the
    * pointer is read once per batch), so a swap can never split a
    * batch across indexes; on a flip the old generation's cache is
    * dropped and the new one loaded — queries keep flowing through the
    * swap. Not thread-safe across concurrent foreachBatch invocations
    * (micro-batches of one query are sequential, which is the contract
    * here). */
  final class ServingSession(rootDir: String) {
    private var loaded: Option[(Long, StreamingSimScorer.Index)] = None

    /** The generation serving right now (None before the first batch). */
    def servingGen: Option[Long] = loaded.map(_._1)

    def serveBatch(batch: DataFrame): DataFrame = {
      val s = batch.sparkSession
      val gen = currentGen(s, rootDir).getOrElse(
        throw new IllegalStateException(
          s"no deployed index under $rootDir"))
      val idx = loaded match {
        case Some((g, i)) if g == gen => i
        case prev =>
          prev.foreach(_._2.unpersistAll())
          val fresh = loadGen(s, rootDir, gen)
          loaded = Some((gen, fresh))
          fresh
      }
      StreamingSimScorer.serve(batch, idx)
        .withColumn("index_gen", lit(gen))
    }

    def close(): Unit = { loaded.foreach(_._2.unpersistAll()); loaded = None }
  }

  /** Attach pointer-following serving to a streaming `(qid, embedding)`
    * frame: answers land in idempotent `batch_id=N` partitions, each
    * row stamped with the `index_gen` that produced it. */
  def attach(queryStream: DataFrame, rootDir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    val session = new ServingSession(rootDir)
    queryStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        session.serveBatch(batch)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()
  }
}
