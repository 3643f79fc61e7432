package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Generates PLANS.md: a per-query physical-plan audit proving the
  * scale-critical properties hold — filters reach the parquet scan, scans
  * prune columns, small dimensions broadcast, shuffle counts stay minimal,
  * and operators sit inside whole-stage codegen.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir] [outFile]
  */
object PlanAudit {

  private[graft] case class Audit(
      name: String,
      shuffles: Int,
      cachedShuffles: Int,
      broadcasts: Int,
      codegenSpans: Int,
      nonCodegenOps: Seq[String],
      scans: Seq[ScanInfo])

  private[graft] case class ScanInfo(table: String, readCols: Int,
      pushedFilters: String)

  /** Capture df.explain("formatted") output. */
  private[graft] def explainText(df: org.apache.spark.sql.DataFrame): String =
    graft.plans.PlanCapture.explainText(df)

  private val opLine = """^\((\d+)\)\s+(\S.*?)(\s+\[codegen id : (\d+)\])?\s*$""".r

  /** Exchange node ids sitting INSIDE an InMemoryRelation's cached plan in
    * the explain tree: they execute once, when the cache materializes, and
    * every further use of the persisted frame is an InMemoryTableScan —
    * counting them as per-run shuffles would overstate steady-state cost.
    * Parsed from the tree section by indentation: any node printed deeper
    * than an InMemoryRelation belongs to its cached plan. */
  private def cachedExchangeIds(lines: Seq[String]): Set[String] = {
    val node = """.*?[+:]- (\S[^(]*)\((\d+)\).*""".r
    def depth(l: String): Int = l.indexOf("- ")
    var cacheDepths = List.empty[Int]
    val ids = scala.collection.mutable.Set.empty[String]
    lines.takeWhile(!_.startsWith("(")).foreach {
      case l @ node(op, id) =>
        val d = depth(l)
        cacheDepths = cacheDepths.dropWhile(_ >= d)
        if (cacheDepths.nonEmpty && op.trim.startsWith("Exchange")) ids += id
        if (op.trim.startsWith("InMemoryRelation")) cacheDepths ::= d
      case _ =>
    }
    ids.toSet
  }

  private[graft] def audit(name: String, text: String): Audit = {
    val lines = text.linesIterator.toSeq
    val cachedIds = cachedExchangeIds(lines)
    val shuffleIds = scala.collection.mutable.Set.empty[String]
    val broadcastIds = scala.collection.mutable.Set.empty[String]
    val codegenIds = scala.collection.mutable.Set.empty[String]
    val nonCodegen = scala.collection.mutable.ListBuffer.empty[String]
    lines.foreach {
      case opLine(nodeId, op, cg, id) =>
        val opName = op.trim
        if (opName.startsWith("Exchange") && !opName.contains("Broadcast"))
          shuffleIds += nodeId
        if (opName.startsWith("BroadcastExchange")) broadcastIds += nodeId
        if (id != null) codegenIds += id
        else if (!opName.startsWith("Scan") && !opName.startsWith("Exchange") &&
          !opName.startsWith("BroadcastExchange") &&
          !opName.startsWith("AdaptiveSparkPlan") &&
          !opName.startsWith("CollectLimit") &&
          !opName.startsWith("TakeOrderedAndProject") &&
          !opName.startsWith("ColumnarToRow") && !opName.startsWith("InMemory"))
          nonCodegen += opName.takeWhile(_ != '[').trim
      case _ =>
    }
    val shuffles = (shuffleIds -- cachedIds).size
    val cachedShuffles = (shuffleIds & cachedIds).size
    val broadcasts = broadcastIds.size
    // scan details live in the per-operator detail section
    val scans = scala.collection.mutable.ListBuffer.empty[ScanInfo]
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      if (l.matches("""^\(\d+\) Scan parquet.*""") ||
        l.matches("""^\(\d+\) Scan ExistingRDD.*""")) {
        var table = if (l.contains("ExistingRDD")) "local" else "?"
        var readCols = -1
        var pushed = ""
        var j = i + 1
        while (j < lines.length && !lines(j).matches("""^\(\d+\).*""")) {
          val d = lines(j).trim
          if (d.startsWith("Location:") && d.contains(".parquet"))
            table = d.replaceAll(""".*/([A-Za-z_0-9]+)\.parquet.*""", "$1")
          else if (d.startsWith("Location:") && d.contains("/")) {
            // artifact tables (frozen cents/cb dirs) have no .parquet
            // suffix — name the scan by the FIRST path's last segment.
            // A multi-path InMemoryFileIndex prints `[file:/a, file:/b]`
            // and explain's width limit can elide the tail with `...`,
            // so the raw line's last '/'-segment would be a path from a
            // different root or a truncation artifact; the first path
            // inside the brackets is always complete and representative.
            val inside = d.indexOf('[') match {
              case -1 => d
              case b => d.substring(b + 1)
            }
            val first = inside.split(',')(0).trim
              .stripSuffix("]").stripSuffix("...")
            val seg = first.substring(first.lastIndexOf('/') + 1)
            if (seg.nonEmpty && !seg.startsWith(".")) table = seg
          }
          if (d.startsWith("ReadSchema:"))
            readCols = d.count(_ == ':') - 1 // fields are name:type pairs
          if (d.startsWith("PushedFilters:"))
            pushed = d.stripPrefix("PushedFilters:").trim
          j += 1
        }
        scans += ScanInfo(table, readCols, pushed)
        i = j
      } else i += 1
    }
    Audit(name, shuffles, cachedShuffles, broadcasts, codegenIds.size,
      nonCodegen.distinct.toSeq, scans.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    // AQE stays ON for real runs (Bench/Verify); the audit disables it so
    // the static planner assigns codegen ids — under AQE those only
    // materialize per query-stage at runtime and explain() shows none.
    // 32 partitions whatever the core count, so PLANS.md stays stable.
    val spark = graft.Session.local(conf = Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "false"))

    // capture the pre-materialization plans of eagerly-checkpointed
    // pipelines (recall evals, audit suites) — without this the most
    // expensive queries would show only their checkpoint scan
    graft.plans.PlanCapture.enable()
    val audits = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      graft.plans.PlanCapture.drain() // clear stragglers
      val top = audit(name, explainText(fn(spark, sfDir)))
      // one sub-row per captured internal pipeline: the real shuffle /
      // pushdown / codegen evidence for the checkpointed queries.
      // Numbering is PER LABEL (a second "pipeline" capture becomes
      // pipeline#2) so distinct labels never imply a dropped row.
      val seen = scala.collection.mutable.Map.empty[String, Int]
      val inner = graft.plans.PlanCapture.drain().map {
        case (label, text) =>
          val n = seen.getOrElse(label, 0) + 1
          seen(label) = n
          val suffix = if (n == 1) label else s"$label#$n"
          audit(s"$name ⊂ $suffix", text)
      }
      val a = top
      println(s"[planaudit] $name: shuffles=${a.shuffles}" +
        (if (a.cachedShuffles > 0) s"+${a.cachedShuffles}cached" else "") +
        s" broadcasts=${a.broadcasts} codegen=${a.codegenSpans}" +
        (if (inner.nonEmpty) s" inner=${inner.size}" else ""))
      top +: inner
    }

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit of every `SparkEntry` query\n\n"
    sb ++= s"Generated by `graft.tools.PlanAudit` against `$sfDir` " +
      "(static plans — AQE is enabled at run time and can only improve " +
      "these: coalesce shuffle partitions, switch sort-merge→broadcast, " +
      "split skewed partitions).\n\n"
    sb ++= "Columns: **shuffles** = non-broadcast Exchange nodes (each is a " +
      "full network repartition of its input — the scarce resource at 100 TB); " +
      "a `+N cached` suffix counts Exchanges inside a persisted frame's " +
      "InMemoryRelation, which execute once at cache materialization and are " +
      "amortized across every reuse. The recall evals and audit suites " +
      "(s06/s09, d09, d13, s21, m11–m14) materialize eagerly through their " +
      "cached inputs and then evict them (a leaked cache would rewrite every " +
      "later query's plan), so their own rows show the 0-shuffle checkpoint " +
      "scan — each is followed by `⊂ pipeline` sub-rows auditing the " +
      "INTERNAL plan captured just before materialization (inputs still " +
      "persisted), which is where their shuffle/pushdown/codegen evidence " +
      "lives; " +
      "**bcast** = BroadcastExchange nodes (small side replicated, no fact " +
      "shuffle); **codegen** = distinct WholeStageCodegen spans; **scan columns** " +
      "= columns actually read per parquet scan (column pruning evidence); " +
      "**pushed filters** = predicates evaluated inside the scan.\n\n"
    sb ++= "| query | shuffles | bcast | codegen | scans (table: cols read, pushed filters) | outside codegen |\n"
    sb ++= "|---|---|---|---|---|---|\n"
    audits.foreach { a =>
      val scans = a.scans.map { s =>
        val pf = if (s.pushedFilters.isEmpty || s.pushedFilters == "[]") ""
          else s" ⬇${s.pushedFilters.take(60)}"
        s"${s.table}: ${if (s.readCols >= 0) s.readCols else "?"} cols$pf"
      }.mkString("; ")
      val nc = a.nonCodegenOps.take(4).mkString(", ")
      val sh = a.shuffles +
        (if (a.cachedShuffles > 0) s" (+${a.cachedShuffles} cached)" else "")
      sb ++= s"| ${a.name} | $sh | ${a.broadcasts} | ${a.codegenSpans} | $scans | $nc |\n"
    }
    sb ++= "\n## Reading the table\n\n"
    sb ++= "- Joins against `region`/`nation`/`part`-sized dimensions show " +
      "`bcast ≥ 1` and no extra shuffle for the fact side.\n"
    sb ++= "- Single-pass aggregations (q11, q23, q32) show exactly one " +
      "shuffle: partial aggregate map-side, final after one Exchange.\n"
    sb ++= "- Scans read only the projected columns (e.g. lineitem is 16 " +
      "columns wide; q11 reads 7). Filters on scan tables appear as " +
      "PushedFilters and never re-materialize upstream.\n"
    sb ++= "- Window/sort operators (SortMergeJoin, WindowExec) sit outside " +
      "codegen by design in Spark; everything pipelined around them is " +
      "inside a WholeStageCodegen span.\n"
    sb ++= "- `dropDuplicates`/LSH self-joins dedup BEFORE the join " +
      "(see d02/s02: the explode of bands happens on the already-minhashed " +
      "narrow projection, not raw text).\n"

    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[planaudit] wrote $outFile (${audits.size} queries)")
    spark.stop()
  }
}
