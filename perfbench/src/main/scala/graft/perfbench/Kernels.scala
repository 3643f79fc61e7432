package graft.perfbench

import org.apache.spark.sql.DataFrame

import graft.events.ChangeEvent
import graft.functions.MaskRules
import graft.streaming.CdcPipeline

/** Per-event kernels timed on a fixed batch of 10,000 generated envelopes,
  * outside any stream: envelope parse, key rendering, validation and
  * masking. Each is the median of five noop-sink executions. */
object Kernels {
  private def timeMs(df: => DataFrame): Double =
    Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    })

  def measure(ctx: Ctx): Unit = {
    import ctx._
    import spark.implicits._
    val gen = new EventGen(ctx.args.seed, 10000)
    val bodies = ((0 until 2000).map(k => gen.preload(k, 0L)) ++
      (0 until 8000).map(_ => gen.next(0L))).map(_.json)
    val raw = bodies.toDF("body").repartition(4).cache()
    raw.count()
    val parsed = ChangeEvent.parseEnvelope(raw, "body").cache()
    parsed.count()
    res.put("events.parse_ms_per_10k", timeMs(ChangeEvent.parseEnvelope(raw, "body")), "ms")
    res.put("events.key_ms_per_10k",
      timeMs(parsed.select(ChangeEvent.eventKeyCol.as("k"))), "ms")
    res.put("events.validate_ms_per_10k", timeMs {
      val (v, i) = ChangeEvent.validate(parsed)
      v.unionByName(i.drop("_invalid_reason"))
    }, "ms")
    res.put("functions.mask_ms_per_10k",
      timeMs(CdcPipeline.maskEnvelope(MaskRules())(parsed)), "ms")
    parsed.unpersist(); raw.unpersist()
  }
}
