package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}
import graft.fs.CommitFiles
import graft.operators.{Dedup, ExtendedQueries}

/** An arriving name record — the ER input shape (the reference's
  * `orders.user_id → users` FK rows landing from the change feed,
  * `setup-local-env.sh:57,110`). */
final case class EntityRecord(custkey: Long, name: String)

/** Online entity resolution — the streaming twin of the batch q67→q68
  * pipeline: arriving records are blocked (name prefix), matched by
  * threshold Levenshtein against the already-resolved store AND their
  * own micro-batch, and entity ids are assigned incrementally, so the
  * canonical-record table a CDC pipeline feeds is correct after every
  * batch instead of after a nightly sweep.
  *
  * Per micro-batch (foreachBatch, callable directly for backfills):
  *
  *  1. newcomers = batch records whose key the store has not resolved
  *     yet (ER is insert-shaped: a re-delivered key is a no-op);
  *  2. candidate pairs = newcomers × (store ∪ this batch) INSIDE the
  *     block, filtered by the threshold edit distance — the exact q67
  *     rule, so the stream discovers precisely the batch operator's
  *     edge set: a pair whose members arrive in batches i ≤ j is found
  *     at batch j (newcomer × store) or i = j (newcomer × newcomer);
  *  3. the incremental min-label step: only components TOUCHED by a new
  *     edge can change, so the propagation graph is newcomers plus the
  *     members of affected entities, with each old member contributing
  *     its (member → entity) edge — the entity label is itself the
  *     component's min member, so connected components over this
  *     contracted graph equal components over the full edge history
  *     (min of mins is the min);
  *  4. re-labeled members and newcomers land in an idempotent
  *     `batch_id=N` overwrite partition; [[readResolved]] resolves the
  *     latest row per key, exactly like the versioned index view.
  *
  * Crash-replay safe by construction: [[applyBatch]] reads the store
  * AS OF batches `< N`, so a replayed batch recomputes byte-identical
  * rows into its own partition regardless of whether its first attempt
  * landed. Kill/restart resumes from the checkpoint with no dropped or
  * doubled records.
  *
  * Shape at 100 TB: per-batch cost ∝ batch size + affected-component
  * mass, never the corpus — on the READ path too: store partitions are
  * laid out by `blk` under each batch_id, edges exist only WITHIN a
  * block (the q67 rule), so components are block-local and
  * [[applyBatch]] prunes its corpus-scale version-resolution scan to
  * exactly the arriving batch's blocks (PartitionFilters, spec-proven).
  * The newcomer EXISTENCE check must see every block — a redelivered
  * key whose name changed blocks would otherwise re-insert under the
  * new block and fork the key across partitions — but it does NOT read
  * the store for it: a compact single-column KEY SIDECAR
  * (`_keys/batch_id=N/bucket=B`, bucketed by `pmod(hash(custkey),
  * KeyBuckets)`, appended per batch with the batch's newcomers,
  * rewritten whole at [[compact]]) answers global existence from just
  * the arriving batch's hash buckets (PartitionFilters, spec-proven) —
  * the last corpus-proportional per-batch cost removed. [[compact]]
  * folds the batch-partition history into a reserved `batch_id=-1` base
  * on a cadence (the [[StreamingIndexCdc.compact]] move), so the
  * version resolution reads base + tail instead of every partition ever
  * written, and the sidecar compacts alongside it. Block skew on the
  * candidate join is bounded by the batch on the newcomer side; the
  * full-corpus de-skew story lives in the batch operator (q67's
  * occupancy-probed grid).
  */
object StreamingEntityResolution {

  /** The reserved base partition [[compact]] writes; streaming batch ids
    * are non-negative, so maintenance resumed on a compacted store can
    * never overwrite it, and the latest-batch version resolution always
    * lets a tail row supersede its compacted form. */
  val CompactedBatchId = -1L

  /** Hash buckets the key sidecar is laid out by: the newcomer
    * existence probe reads only the batch's buckets, so probe I/O is
    * `(batch's distinct buckets / KeyBuckets) × key-set size` instead
    * of the whole store. 64 keeps per-bucket files worth a task at
    * corpus scale while letting a small batch prune to a handful. */
  val KeyBuckets = 64

  private val RowSchema = StructType(Seq(
    StructField("custkey", LongType), StructField("name", StringType),
    StructField("blk", StringType), StructField("entity_id", LongType)))

  private val KeySchema = StructType(Seq(StructField("custkey", LongType)))

  /** Sidecar root — underscore-prefixed so the main store read's
    * partition discovery ignores it (Hadoop hidden-path convention). */
  private def keysDir(storeDir: String): String = s"$storeDir/_keys"

  private def keyBucket(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = pmod(hash(c), lit(KeyBuckets))

  /** The `batch_id` partition ids `< batchId` under `dir` — a
    * driver-side top-level directory listing (one FS call, no data
    * read). Drives the sidecar-activation guard AND the store-vs-sidecar
    * completeness comparison (a store batch with no sidecar counterpart
    * marks a crash that interrupted the pair of writes). */
  private def batchIdsBefore(s: SparkSession, dir: String,
      batchId: Long): Set[Long] =
    CommitFiles(s, dir).list("").flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch_id="))
        scala.util.Try(n.stripPrefix("batch_id=").toLong)
          .toOption.filter(_ < batchId)
      else None
    }.toSet

  /** [[batchIdsBefore]] restricted to sidecar batch partitions whose
    * write job COMMITTED (`_SUCCESS` present). A crash mid-sidecar-write
    * can leave a partially-written `batch_id=N` directory that a plain
    * directory listing counts as present — an incomplete bucket
    * partition the existence probe must not trust, or a block-changing
    * redelivery of a key in a lost bucket forks. Requiring the job
    * marker folds that window into the same heal path as a fully-absent
    * partition (the backfill overwrite is idempotent either way). One
    * extra driver FS call per prior batch; no data read. */
  private def committedBatchIdsBefore(s: SparkSession, dir: String,
      batchId: Long): Set[Long] = {
    val files = CommitFiles(s, dir)
    batchIdsBefore(s, dir, batchId).filter(m => files.exists(s"batch_id=$m/_SUCCESS"))
  }

  /** The resolved entity table as of batches `< beforeBatch` — latest
    * row per key (a member re-labeled by a merge carries its new entity
    * in a later partition). Schema-explicit read so a store with empty
    * partitions (or none at all) is an empty frame, and `batch_id`
    * normalized to Long against partition-column inference.
    *
    * `blocks` prunes the scan to the named `blk` partitions BEFORE the
    * version resolution — sound because a key's block is a pure function
    * of its name and ER is insert-shaped (a key's rows all live in one
    * block partition), so the per-block latest IS the global latest. */
  /** Schema-explicit raw store read (all batch partitions), `batch_id`
    * present even on an empty or partition-less store. */
  private def storeRaw(s: SparkSession, storeDir: String): DataFrame = {
    val base =
      if (CommitFiles.exists(s, storeDir)) s.read.schema(RowSchema).parquet(storeDir)
      else s.createDataFrame(s.sparkContext.emptyRDD[Row], RowSchema)
    if (base.columns.contains("batch_id")) base
    else base.withColumn("batch_id", lit(null))
  }

  /** The key sidecar pruned to `buckets` and batches `< beforeBatch` —
    * the frame the newcomer existence probe scans. Both prunes are
    * PARTITION filters (batch_id and bucket are directory levels), so
    * the probe reads a few single-column buckets, never the store.
    * The `beforeBatch` filter also makes a crash-replayed batch blind
    * to its own first attempt's sidecar partition, which keeps replay
    * byte-identical regardless of where the first attempt died. */
  private[graft] def keySidecar(s: SparkSession, storeDir: String,
      beforeBatch: Long, buckets: Seq[Int]): DataFrame = {
    val dir = keysDir(storeDir)
    val base =
      if (CommitFiles.exists(s, dir)) s.read.schema(KeySchema).parquet(dir)
      else s.createDataFrame(s.sparkContext.emptyRDD[Row], KeySchema)
    // empty partitions leave no files → no inferred partition columns
    val withB =
      if (base.columns.contains("batch_id")) base
      else base.withColumn("batch_id", lit(null))
    val withBk =
      if (withB.columns.contains("bucket")) withB
      else withB.withColumn("bucket", lit(null))
    withBk.filter(col("batch_id").cast(LongType) < beforeBatch &&
        col("bucket").cast(IntegerType).isin(buckets: _*))
      .select("custkey")
  }

  def readResolved(s: SparkSession, storeDir: String,
      beforeBatch: Long = Long.MaxValue,
      blocks: Option[Seq[String]] = None): DataFrame = {
    val withB = storeRaw(s, storeDir)
    val pruned = blocks match {
      case Some(bs) => withB.filter(col("blk").isin(bs: _*))
      case None => withB
    }
    pruned.filter(col("batch_id").cast(LongType) < beforeBatch)
      .groupBy("custkey")
      .agg(max(struct(col("batch_id").cast(LongType).as("batch_id"),
        col("entity_id"), col("name"), col("blk"))).as("v"))
      .select(col("custkey"), col("v.name").as("name"),
        col("v.blk").as("blk"), col("v.entity_id").as("entity_id"))
  }

  /** Apply ONE batch of `(custkey, name)` records to the store — the
    * foreachBatch body. The store scan is pruned to the BATCH'S BLOCKS:
    * q67 edges exist only within a block, so components are block-local
    * and everything this batch can touch — newcomer checks, candidate
    * pool, affected members — lives in the arriving blocks' partitions.
    * The block list is a driver-side collect bounded by the batch's
    * distinct prefixes (batch metadata, not a data path). */
  def applyBatch(batch: DataFrame, storeDir: String, batchId: Long,
      maxEdit: Int = ExtendedQueries.Q67MaxEdit,
      blockPrefix: Int = ExtendedQueries.Q67BlockPrefix): Unit = {
    val s = batch.sparkSession
    // deterministic in-batch collapse — one row per key (min name), so a
    // crash-replayed batch recomputes byte-identical rows even when one
    // delivery carries the same key twice with different names
    val incoming0 = batch
      .groupBy(col("custkey")).agg(min(col("name")).as("name"))
      .select(col("custkey"), col("name"),
        substring(col("name"), 1, blockPrefix).as("blk"))
      .persist()
    val batchBlocks = incoming0.select("blk").distinct()
      .collect().map(_.getString(0)).toSeq
    val prior = readResolved(s, storeDir, beforeBatch = batchId,
      blocks = Some(batchBlocks)).persist()
    // the newcomer check consults the FULL key history, not the pruned
    // prior: a redelivered key whose name (hence block) changed would
    // pass a block-local anti-join and be inserted a second time in a
    // second block — breaking the one-block-per-key invariant the
    // pruned read itself relies on. Global existence does NOT require
    // touching the store, though: the key sidecar holds every resolved
    // custkey bucketed by key hash, so the probe reads only the batch's
    // buckets (partition-pruned, spec-proven) joined against the
    // BROADCAST batch keys — per-batch probe I/O ∝ touched buckets, not
    // the corpus. The bucket list is batch metadata (≤ KeyBuckets
    // rows), same footing as the block list above. A store created
    // before the sidecar existed (no `_keys`) falls back to the old
    // column-pruned full-store custkey scan until its next [[compact]]
    // materializes the sidecar — applyBatch must NOT start one
    // mid-history, or later probes would trust a sidecar that misses
    // every pre-sidecar key. Hence the activation rule: no batch
    // earlier than this one exists (fresh store, or a replayed FIRST
    // batch whose initial attempt died between the store and sidecar
    // writes — restarting the sidecar there is sound because there are
    // no earlier keys to miss), OR the sidecar exists AND covers every
    // earlier store batch. The store/sidecar pair is two non-atomic
    // writes, and applyBatch is a public API — a crash between them on
    // a batch that is never replayed would otherwise leave the sidecar
    // permanently missing that batch's newcomers, and a later
    // redelivery of such a key with a changed block would pass the
    // bucket-pruned probe and fork the key across two blocks. The
    // guard is the same driver listing as the block list, run on both
    // roots: any store batch with no COMMITTED sidecar counterpart —
    // the directory absent, or present without its _SUCCESS marker
    // because the crash hit mid-sidecar-write — is HEALED by
    // backfilling its keys from that one store partition (a
    // batch-bounded single-column read, idempotent overwrite) before
    // the sidecar is trusted. Relabeled old members ride along with
    // the newcomers in the backfill — harmless for an existence probe,
    // their keys are already resolved.
    val sidecarActive =
      if (!CommitFiles.exists(s, keysDir(storeDir)))
        batchIdsBefore(s, storeDir, batchId).isEmpty
      else {
        val missing = batchIdsBefore(s, storeDir, batchId) --
          committedBatchIdsBefore(s, keysDir(storeDir), batchId)
        missing.foreach { m =>
          s.read.schema(KeySchema).parquet(s"$storeDir/batch_id=$m")
            .select(col("custkey"), keyBucket(col("custkey")).as("bucket"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(s"${keysDir(storeDir)}/batch_id=$m")
        }
        true
      }
    val known = (if (sidecarActive) {
        // hash(null) is the SEED (42), never null, so a null custkey
        // lands in the real bucket pmod(42, KeyBuckets) on BOTH sides —
        // the sidecar write below and this probe compute the same
        // bucket, so the probe always includes it; joins on custkey
        // drop null keys, so the row is inert either way
        val buckets = incoming0
          .select(keyBucket(col("custkey")).as("bucket")).distinct()
          .collect().toSeq.map(_.getInt(0))
        keySidecar(s, storeDir, beforeBatch = batchId, buckets = buckets)
      } else {
        storeRaw(s, storeDir)
          .filter(col("batch_id").cast(LongType) < batchId)
          .select("custkey")
      })
      .join(broadcast(incoming0.select("custkey")), Seq("custkey"))
      .distinct()
    val incoming = incoming0
      .join(broadcast(known), Seq("custkey"), "left_anti")
      .persist()
    try {
      // q67's edge rule, newcomer-sided: new × (resolved ∪ this batch)
      // within the block; threshold Levenshtein (−1 past the budget)
      val pool = prior.select("custkey", "name", "blk")
        .unionByName(incoming.select("custkey", "name", "blk"))
      val pairs = incoming.as("x").join(pool.as("y"),
          col("x.blk") === col("y.blk") &&
            col("x.custkey") =!= col("y.custkey"))
        .filter((if (maxEdit == 1)
            // the default budget takes q67's single-pass scalar
            // (functions/EditWithin1) — same 0/1/-1 contract, no DP
            graft.functions.EditWithin1
              .edit_within1(col("x.name"), col("y.name"))
          else levenshtein(col("x.name"), col("y.name"), maxEdit)) >= 0)
        .select(least(col("x.custkey"), col("y.custkey")).as("da"),
          greatest(col("x.custkey"), col("y.custkey")).as("db"))
        .distinct()
      // contracted propagation graph: newcomers + members of entities a
      // new edge touches, old members contributing (member → entity)
      val pairKeys = pairs.select(col("da").as("custkey"))
        .unionByName(pairs.select(col("db").as("custkey"))).distinct()
      val affectedEnt = prior.join(pairKeys, Seq("custkey"))
        .select("entity_id").distinct()
      val affectedOld = prior.join(affectedEnt, Seq("entity_id"))
        .select("custkey", "name", "blk", "entity_id").persist()
      try {
        val nodes = incoming.select(col("custkey").as("doc_id"))
          .unionByName(affectedOld.select(col("custkey").as("doc_id")))
        val edges = pairs.unionByName(affectedOld
          .select(col("custkey").as("da"), col("entity_id").as("db")))
        val (labels, _) = Dedup.propagateMinLabels(nodes, edges)
        incoming.unionByName(affectedOld.drop("entity_id"))
          .join(labels, col("custkey") === col("doc_id"))
          .select(col("custkey"), col("name"), col("blk"),
            col("cluster").as("entity_id"))
          .write.mode("overwrite").partitionBy("blk")
          .parquet(s"$storeDir/batch_id=$batchId")
        // sidecar append: this batch's NEWCOMERS (known keys are
        // already in earlier sidecar partitions; relabeled old members
        // never change key). Written AFTER the store partition, but the
        // order doesn't affect replay: the probe filters batch_id <
        // batchId, so a replayed batch never sees its first attempt's
        // sidecar rows and recomputes identically whichever write the
        // crash interrupted. Idempotent per-batch overwrite, like the
        // store partition itself.
        if (sidecarActive)
          incoming
            .select(col("custkey"), keyBucket(col("custkey")).as("bucket"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(s"${keysDir(storeDir)}/batch_id=$batchId")
      } finally { affectedOld.unpersist(); () }
    } finally {
      incoming.unpersist(); prior.unpersist(); incoming0.unpersist(); ()
    }
  }

  /** Fold the batch-partition history into a fresh store whose ONLY
    * partition is the reserved [[CompactedBatchId]] base (laid out by
    * `blk`, like every batch partition) — the read-amplification erase
    * [[StreamingIndexCdc.compact]] performs for the index, applied to
    * the ER store: after N batches, [[readResolved]] over the compacted
    * store reads base + tail instead of N partitions.
    *
    * Replay safety: resuming the stream onto `outStoreDir` with its
    * original checkpoint is sound — a crash-replayed pre-compaction
    * batch reads a prior that already contains its own (and all later)
    * effects baked into the base, so its newcomer set is empty and it
    * writes an empty partition; the resolved view is unchanged
    * (spec-proven). ER is insert/re-label only — there is no delete to
    * resurrect, hence no tombstone-retention analog to carry.
    *
    * The key sidecar compacts alongside: the FULL resolved key set is
    * rewritten into the sidecar's own `batch_id=-1` base, which (a)
    * erases the sidecar's per-batch partition history and (b) MIGRATES
    * a pre-sidecar store — after one compaction the existence probe is
    * bucket-pruned forever. ER is insert-only, so the resolved key set
    * IS the complete key history; nothing is lost by the rewrite. */
  def compact(s: SparkSession, storeDir: String,
      outStoreDir: String): Unit = {
    val resolved = readResolved(s, storeDir)
      .select(col("custkey"), col("name"), col("blk"), col("entity_id"))
      .persist()
    try {
      resolved
        .write.mode("overwrite").partitionBy("blk")
        .parquet(s"$outStoreDir/batch_id=$CompactedBatchId")
      resolved
        .select(col("custkey"), keyBucket(col("custkey")).as("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"${keysDir(outStoreDir)}/batch_id=$CompactedBatchId")
    } finally { resolved.unpersist(); () }
  }

  /** Attach the resolver to a streaming `(custkey, name)` frame. */
  def attach(records: DataFrame, storeDir: String,
      checkpointDir: String): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, storeDir, batchId)
      }
      .start()

  /** The q68 output contract over the maintained store: `(c_custkey,
    * entity_id, is_canonical)` — what a consumer diffing against the
    * batch pipeline reads. */
  def entityTable(s: SparkSession, storeDir: String): DataFrame =
    readResolved(s, storeDir)
      .select(col("custkey").as("c_custkey"), col("entity_id"),
        (col("entity_id") === col("custkey")).as("is_canonical"))
}
