package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.tools.ScaleTrend

/** The scale-study corpus must be a FAITHFUL enlargement: row counts
  * scale by the factor, FK joins stay lossless (replica r of orders
  * references replica r of customer), replicas are distinct where the
  * study's linearity argument needs them distinct, and the embedding
  * perturbation preserves norms — otherwise SCALETREND.md's ratios
  * measure a broken corpus, not the engine. */
class ScaleTrendSpec extends SparkSpec {
  import spark.implicits._

  private val src = "/root/testdata/sf0.001"

  test("synthesize scales facts by the factor, keeps dims fixed, joins " +
      "lossless, replicas distinct, norms preserved") {
    val out = Files.createTempDirectory("graft-scaletrend").toString
    // factor 30 regression-guards the perturbation PERIODS: rotation
    // schemes aliased at 10 (digits), 26 (letters) — the shipped
    // affine-permutation scheme (ScaleTrend.permString) is injective up
    // to its permCount ceiling of 312 distinct replicas, and any factor
    // above the old rotation periods trips the distinctness assertion
    // on a regression
    val factor = 30
    ScaleTrend.synthesize(spark, src, out, factor)
    def n(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t.parquet").count()
    // facts scale; dimensions stay TPC-H-fixed
    Seq("customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach { t =>
      assert(n(out, t) == factor * n(src, t), s"table $t")
    }
    Seq("region", "nation").foreach(t => assert(n(out, t) == n(src, t)))

    // FK integrity: every order resolves its customer, every lineitem
    // its order/part/supplier — in its OWN replica (no cross-replica
    // stitching, which would warp join fanouts)
    val o = spark.read.parquet(s"$out/orders.parquet")
    val c = spark.read.parquet(s"$out/customer.parquet")
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
      .count() == 0)
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    assert(li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
      .count() == 0)

    // keys are globally unique across replicas
    assert(c.select("c_custkey").distinct().count() == n(out, "customer"))
    val e = spark.read.parquet(s"$out/embeddings.parquet")
    assert(e.select("vec_id").distinct().count() == n(out, "embeddings"))

    // documents: replicas of one doc are DISTINCT texts (the vowel
    // rotation), same length — shingle structure within a replica is
    // preserved, across replicas broken
    val d = spark.read.parquet(s"$out/documents.parquet")
    val dsrc = spark.read.parquet(s"$src/documents.parquet")
    val distinctTexts = d.select("text").distinct().count()
    val srcDistinct = dsrc.select("text").distinct().count()
    assert(distinctTexts > (factor - 1) * srcDistinct,
      s"replica texts mostly distinct: $distinctTexts vs $srcDistinct src")
    assert(d.filter(length(col("text")) =!= col("n_chars")).count() ==
      dsrc.filter(length(col("text")) =!= col("n_chars")).count(),
      "vowel rotation must preserve text length")

    // the driver corpora carry no digits (verified — the r13 study's
    // "digit collision" hypothesis for m11/m12 was wrong; SCALETREND.md
    // records the real mechanism, the aHash's space-skeleton invariance
    // under ANY char bijection), so the digit-permutation machinery is
    // asserted on a purpose-built digit-bearing source below

    // embeddings: the cyclic rotation preserves the norm exactly and
    // replica vectors differ from their source (unless constant arrays)
    val norms = e
      .select(col("vec_id"),
        aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))
          .as("n2"))
    val srcE = spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("vec_id").as("src_id"),
        aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))
          .as("src_n2"))
    // norm multiset scales by the factor: every replica row keeps its
    // source norm (rotation is norm-preserving)
    val joined = norms.crossJoin(broadcast(srcE.agg(
      sum(col("src_n2")).as("src_sum"))))
      .agg(sum(col("n2")).as("all_sum"), first(col("src_sum")).as("src_sum"))
      .head()
    assert(math.abs(joined.getAs[Double]("all_sum") -
      factor * joined.getAs[Double]("src_sum")) <
      1e-6 * joined.getAs[Double]("all_sum"))
  }

  test("digit-bearing text permutes per replica (injective under the digit-map period)") {
    // the driver corpora are digit-free, so this drives synthesize over
    // a source whose documents carry digit skeletons and asserts the
    // r14 digit permutation makes them replica-distinct (the digit
    // alphabet admits 4·10 = 40 affine maps; factor 5 is well under)
    val srcTmp = Files.createTempDirectory("graft-digit-src").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.parquet(s"$srcTmp/$t.parquet")
    }
    val docs = (0L until 20L).map { i =>
      val text = s"order ${i}1230 shipped 4567 units to dock ${i % 3}89"
      (i, text, "en", "synthetic", text.length)
    }
    spark.createDataFrame(docs).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$srcTmp/documents.parquet")
    val out = Files.createTempDirectory("graft-digit-out").toString
    val factor = 5
    ScaleTrend.synthesize(spark, srcTmp, out, factor)
    val d = spark.read.parquet(s"$out/documents.parquet")
    val skel = regexp_replace(col("text"), "[^0-9]", "")
    // every source doc's skeleton uses ≥2 distinct digits, and two
    // distinct affine maps agree on at most one character — so the
    // replica skeletons of one source doc are pairwise distinct and
    // the corpus-wide distinct count scales exactly by the factor
    val srcSkels = 20L // all 20 docs have distinct multi-digit skeletons
    val gotSkels = d.select(skel.as("sk")).distinct().count()
    assert(gotSkels == factor * srcSkels,
      s"digit skeletons not replica-distinct: $gotSkels at factor $factor")
    // replica 0 is the identity map — source bytes preserved
    val r0 = d.filter(col("doc_id") < 100).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text, _, _, _) => assert(r0(id) == text) }
  }
}
