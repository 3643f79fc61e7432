package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.{SparkEntry, Verify}

/** The query pack of a traced run: registered `SparkEntry` queries over
  * the seeded corpus `perfbench/corpus.py` writes.
  *
  * A first pass writes every answer to parquet, as `graft.Verify` does,
  * with the queries' oracle SQL beside them; the runner checks them
  * against DuckDB with `tools/compare.py` after the run. A second, warm
  * pass in seeded order is timed and traced: each query's build and plan
  * (everything before its action) and its execution, with the jobs,
  * stages, tasks, shuffle and spill of that execution from the bench's
  * `SparkListener`, and the `ReusedExchange` nodes of its final plan.
  */
object QueryPack {
  val Names: Seq[String] = Seq(
    // warehouse surface
    "q03_latest_state", "q04_delete_propagation", "q17_time_bucket",
    "q69_scd2_history", "q22_mask_hmac",
    // analytic
    "q11_agg_tpch_q1", "q23_cube", "q43_copurchase_pairs",
    // TextPrep.pushdownBarrier and exchange-reuse sites
    "d02_dedup_minhash_lsh", "d04_dedup_ngram_jaccard", "d23_dedup_winnow",
    "t06_boilerplate_ngrams", "t11_bigram_novelty",
    // similarity
    "s16_sim_ivfpq_refine")

  /** `ReusedExchange` nodes of a plan, through AQE into its final tree. */
  def reusedExchanges(p: SparkPlan): Int = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => reusedExchanges(a.executedPlan)
      case s: QueryStageExec => reusedExchanges(s.plan)
      case _: ReusedExchangeExec => 1
      case o => o.children.map(reusedExchanges).sum
    }
    here + p.subqueries.map(reusedExchanges).sum
  }

  final case class Timed(name: String, planMs: Double, execMs: Double,
      gapMs: Double, jobs: JobListener.Breakdown, reused: Int)

  def run(ctx: Ctx, corpus: String, answers: String): Unit = {
    import ctx._
    val queries = SparkEntry.queries
    // a query that throws leaves no answer, which the oracle check fails
    Verify.run(spark, corpus, answers, queries, Some(Names.toSet))
    val oracle = new java.util.LinkedHashMap[String, String]()
    Names.foreach(n => oracle.put(n, SparkEntry.oracleSql(n)))
    Files.writeString(Paths.get(answers, "oracle_sql.json"),
      new ObjectMapper().writeValueAsString(oracle))
    res.attempted += Names.length

    val order = new scala.util.Random(args.seed).shuffle(Names)
    val timed = order.map { n =>
      val (t0, e0) = (System.nanoTime(), System.currentTimeMillis())
      val df = queries(n)(spark, corpus)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val (t2, e2) = (System.nanoTime(), System.currentTimeMillis())
      df.collect()
      val (t3, e3) = (System.nanoTime(), System.currentTimeMillis())
      val owner = s"query-$n-${df.queryExecution.id}"
      spans.add(Span("query.build", owner, t0, t1, owner))
      spans.add(Span("query.plan", owner, t1, t2, owner))
      spans.add(Span("query.execute", owner, t2, t3, owner))
      jobs.settle(5000)
      val b = jobs.between(e0, e3)
      // execution time no job covered: driver-side work between jobs
      val covered = b.jobSpans.map { case (s, e) => (s.max(e2), e.min(e3)) }
        .filter { case (s, e) => e > s }.sorted
        .foldLeft((0L, e2)) { case ((sum, upTo), (s, e)) =>
          (sum + (e - s.max(upTo)).max(0L), upTo.max(e))
        }._1
      val execMs = (t3 - t2) / 1e6
      Timed(n, (t2 - t0) / 1e6, execMs, (execMs - covered).max(0.0), b,
        reusedExchanges(df.queryExecution.executedPlan))
    }
    def total(f: Timed => Double): Double = timed.map(f).sum
    res.put("query.plan_ms", total(_.planMs), "ms")
    res.put("query.exec_ms", total(_.execMs), "ms")
    res.put("query.driver_gap_ms", total(_.gapMs), "ms")
    res.put("query.jobs", total(_.jobs.jobs.toDouble), "count")
    res.put("query.stages", total(_.jobs.stages.toDouble), "count")
    res.put("query.task_ms", total(_.jobs.taskMs.toDouble), "ms")
    res.put("query.shuffle_mb", total(_.jobs.shuffleBytes / 1048576.0), "MB")
    res.put("query.spill_mb", total(_.jobs.spillBytes / 1048576.0), "MB")
    res.put("query.reused_exchanges", total(_.reused.toDouble), "count")
    res.detail("query.per_query") = timed.map(t =>
      f"${t.name}: plan ${t.planMs}%.1f ms, exec ${t.execMs}%.1f ms, " +
        s"${t.jobs.jobs} jobs, ${t.jobs.stages} stages, ${t.reused} reused")
  }
}
