package graft

import java.nio.file.Files
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import graft.plans.{AutoMaskRule, GraftExtensions}

/** SQL function injection + metadata-driven auto-masking rule. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("injected SQL functions: hmac_sha256 and float_vec_dot callable from SQL") {
    GraftExtensions.install(spark)
    val hmac = spark.sql(
      "SELECT hmac_sha256('patient-123', 'default-secret-key') AS t")
      .as[String].head()
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      "default-secret-key".getBytes("UTF-8"), "HmacSHA256"))
    assert(hmac == mac.doFinal("patient-123".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString)

    val dot = spark.sql(
      "SELECT float_vec_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>), " +
        "CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d").as[Double].head()
    assert(dot == 11.0)

    // composed e-acute vs decomposed e + combining acute normalize equal
    val nfc = spark.sql(
      "SELECT nfc_normalize('caf\u00e9') = " +
        "nfc_normalize('cafe\u0301') AS eq").as[Boolean].head()
    assert(nfc)

    // budget-1 edit distance: levenshtein(a, b, 1) contract from SQL
    val ed = spark.sql(
      "SELECT edit_within1('kitten', 'mitten') AS sub, " +
        "edit_within1('kitten', 'kitten') AS eq, " +
        "edit_within1('kitten', 'sitting') AS far").head()
    assert(ed.getAs[Int]("sub") == 1 && ed.getAs[Int]("eq") == 0 &&
      ed.getAs[Int]("far") == -1)
  }

  test("spark.sql.extensions path: GraftExtensions loaded by class name " +
      "injects hmac_sha256 and float_vec_dot into a new session") {
    // Spark's own loading step for `spark.sql.extensions`: instantiate the
    // named class with its no-arg constructor and apply it to the
    // session's SparkSessionExtensions
    val ext = Class.forName("graft.plans.GraftExtensions")
      .getConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    // the static `spark.sql.extensions` conf only applies when the
    // SparkContext starts, so build a second session on the running
    // context with the same extensions instead
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val withExt = try SparkSession.builder().withExtensions(ext).getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(withExt ne shared)
    val row = withExt.sql("SELECT hmac_sha256('x', 'k') AS t, " +
      "float_vec_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>), " +
      "CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d").head()
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      "k".getBytes("UTF-8"), "HmacSHA256"))
    assert(row.getAs[String]("t") ==
      mac.doFinal("x".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(row.getAs[Double]("d") == 11.0)
  }

  test("edit_within1 equals the full Levenshtein clamped at 1, " +
      "exhaustively over short strings incl. astral code points") {
    // exhaustive over all strings of length <= 3 from a 3-symbol
    // alphabet with an astral char \u2014 ~40^2 = 1.6k pairs; the sampled
    // ScalaCheck property covers longer strings
    val alpha = Seq("a", "b", "\ud834\udd1e") // \ud834\udd1e = surrogate pair
    val strs = (0 to 3).flatMap(n =>
      Seq.fill(n)(alpha).foldLeft(Seq(""))((acc, cs) =>
        acc.flatMap(p => cs.map(p + _))))
    def lev(a: Seq[Int], b: Seq[Int]): Int =
      if (a.isEmpty) b.length
      else if (b.isEmpty) a.length
      else {
        val del = lev(a.tail, b) + 1
        val ins = lev(a, b.tail) + 1
        val sub = lev(a.tail, b.tail) + (if (a.head == b.head) 0 else 1)
        math.min(del, math.min(ins, sub))
      }
    for (x <- strs; y <- strs) {
      val d = lev(x.codePoints().toArray.toSeq, y.codePoints().toArray.toSeq)
      val expect = if (d <= 1) d else -1
      assert(graft.functions.EditWithin1.compute(x, y) == expect,
        s"edit_within1('$x','$y') != $expect")
    }
  }

  test("auto-mask rule: metadata-tagged columns come out masked from any query") {
    GraftExtensions.install(spark)
    val piiMeta = new MetadataBuilder()
      .putString(AutoMaskRule.MetadataKey, "pii").build()
    val phiMeta = new MetadataBuilder()
      .putString(AutoMaskRule.MetadataKey, "phi").build()

    val dir = Files.createTempDirectory("automask").toString
    Seq(("a@b.c", "flu", 7)).toDF("email", "diagnosis", "n")
      .select(col("email").as("email", piiMeta),
        col("diagnosis").as("diagnosis", phiMeta), col("n"))
      .write.mode("overwrite").parquet(dir)

    // field metadata round-trips through the parquet footer; reading with
    // the rule installed masks at the scan — even a SELECT * cannot see raw
    val row = spark.read.parquet(dir)
      .select("email", "diagnosis", "n").head()
    assert(row.getString(0).length == 64 && row.getString(0) != "a@b.c")
    assert(row.getString(1).length == 64 && row.getString(1) != "flu")
    assert(row.getInt(2) == 7)

    // filters on masked columns compare masked values (deterministic join/
    // filter semantics preserved, reference masking.py design goal)
    val sha = Seq("a@b.c").toDF("v").select(sha2(col("v"), 256)).as[String].head()
    assert(spark.read.parquet(dir).filter(col("email") === sha).count() == 1)
  }
}
