package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.{Envelope, Fixture, Materialize}
import graft.streaming.{CdcPipeline, IncrementalAgg}

/** `replicate`: one caller sends large batches back to back through
  * `CdcPipeline.processBatch` (closed loop) with the default `Config`
  * sink and one in-batch agg view. The mirror is seeded with every key
  * of a key space several times the batch size, so it is much larger
  * than any batch. */
object Replicate {
  val BatchSize = 20000
  val KeySpace = 60000
  val Setups = 2
  val viewSpec: IncrementalAgg.Spec =
    IncrementalAgg.Spec(Seq("o_orderstatus"), Seq("o_totalprice"))

  final class Setup(val gen: Gen, val cfg: CdcPipeline.Config, val root: String,
                    var nextBatch: Long)

  def setup(ctx: Ctx, name: String): Setup = ctx.setup {
    val root = ctx.dir(name)
    val gen = new Gen(ctx.seed, KeySpace)
    val view = CdcPipeline.AggView(gen.hotTable, viewSpec)
    val cfg = CdcPipeline.Config(Fixture.rowSchema, Seq("id"),
      s"$root/mirror", s"$root/dlq", s"$root/ckpt",
      aggViews = Map("by_status" -> view))
    val s = new Setup(gen, cfg, root, 0L)
    // the initial table load, then one warm-up batch
    CdcPipeline.processBatch(frame(ctx, gen.snapshot(1L)), 0L, cfg)
    CdcPipeline.processBatch(nextFrame(ctx, s), s.nextBatch, cfg)
    s
  }

  def frame(ctx: Ctx, changes: Seq[Change]): DataFrame =
    ctx.spark.createDataFrame(changes.map(_.rec))

  /** The next generated batch (generated before its clock starts). */
  def nextFrame(ctx: Ctx, s: Setup): DataFrame = {
    s.nextBatch += 1
    frame(ctx, s.gen.batch(BatchSize, seq => 1000L + seq))
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    // several set-ups into fresh directories; the last one is measured
    val s = (1 to Setups).map(i => setup(ctx, s"setup$i")).last
    ctx.reportSetup()
    r.num("batch_events", BatchSize)
    r.num("key_space", KeySpace)
    r.str("hot_table", s.gen.hotTable)

    val untraced = loop(ctx, s, traced = false)
    r.metric("events_per_s", untraced.events / untraced.busyS, "1/s")
    r.metric("batch_p50_ms", Stats.median(untraced.ms), "ms")
    val tail = Stats.tail(untraced.ms)
    r.metric("batch_tail_ms", tail.value, "ms")
    r.metric("throughput_per_s", untraced.events / untraced.busyS, "1/s")
    r.metric("p50_ms", Stats.median(untraced.ms), "ms")
    r.metric("tail_ms", tail.value, "ms")
    r.num("batch_tail_percentile", tail.percentile)
    r.num("batch_samples", tail.n)

    if (ctx.trace) {
      loop(ctx, s, traced = true)
      Layers.replicate(ctx, s, untraced)
    }
    verify(ctx, s.gen, s.cfg)
  }

  final case class Loop(ms: Seq[Double], events: Long, busyS: Double)

  def loop(ctx: Ctx, s: Setup, traced: Boolean): Loop = {
    val ms = Seq.newBuilder[Double]
    var events = 0L
    var busy = 0.0
    ctx.tracer.enabled = traced
    Tracer.resetHeapPeak()
    val t0 = System.nanoTime()
    var ok = true
    while (ok && (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val df = nextFrame(ctx, s)
      val id = s.nextBatch
      ok = try {
        ctx.tracer.span("batch", s"b$id") {
          val b0 = System.nanoTime()
          ctx.tracer.span("streaming.process_batch", s"b$id") {
            CdcPipeline.processBatch(df, id, s.cfg)
          }
          val dt = (System.nanoTime() - b0) / 1e9
          ms += dt * 1e3
          busy += dt
          events += BatchSize
          if (traced) Layers.separateCalls(ctx, s, df, id)
        }
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] batch $id failed: $e")
          false
      }
      ctx.result.op(ok)
    }
    ctx.tracer.enabled = false
    Loop(ms.result(), events, busy)
  }

  /** The mirror equals the generator's latest state per key (count and
    * an order-insensitive hash per table), and the DLQ holds exactly the
    * planted poison records. */
  def verify(ctx: Ctx, gen: Gen, cfg: CdcPipeline.Config): Unit = {
    val spark = ctx.spark
    Gen.tables.foreach { t =>
      val got = CdcPipeline.mirror(spark, cfg, t)
        .select(col("id"), col("o_orderstatus"), col("o_totalprice")).collect()
        .map(x => Gen.Row(x.getLong(0), x.getString(1), x.getDouble(2)))
      val (gn, gh) = Gen.fingerprint(got)
      val (en, eh) = Gen.fingerprint(gen.expected(t))
      ctx.result.check(s"mirror_$t", gn == en && gh == eh,
        s"rows $gn vs expected $en, hash ${gh == eh}")
    }
    val planted = if (ctx.fault == "poison") gen.poison.drop(1) else gen.poison
    val dlq = CdcPipeline.deadLetters(spark, cfg).collect().map(_.getString(0)).toSeq
    ctx.result.check("dlq_is_planted_poison", dlq.sorted == planted.sorted,
      s"${dlq.size} dead letters vs ${planted.size} planted")
  }

  /** The routed, parsed and unwrapped forms of one batch, each persisted
    * so every separately called stage reads its input from memory. */
  final class Staged(ctx: Ctx, df: DataFrame, id: Long) {
    private val run = s"b$id"
    private def t[T](name: String)(body: => T): T = ctx.tracer.span(name, run)(body)
    val routed: DataFrame = df.withColumn("table_name", Envelope.route(col("topic"))).persist()
    val tables: Array[String] = t("cdc.route") {
      routed.groupBy(col("table_name")).count().collect().map(_.getString(0))
    }.filter(_.nonEmpty)
    val parsed: DataFrame = Envelope.parse(routed, Fixture.rowSchema)
      .withColumn("_wf", Envelope.isWellFormed.cast("int")).persist()
    t("cdc.parse")(parsed.count())
    val unwrapped: DataFrame =
      Envelope.unwrap(parsed.filter(col("_wf") === 1), Seq("id"))
        .withColumn("table_name", Envelope.route(col("topic"))).persist()
    t("cdc.unwrap")(unwrapped.count())
    def unpersist(): Unit = Seq(routed, parsed, unwrapped).foreach(_.unpersist())
  }

  object Layers {
    /** The same batch sent through each layer's public call on its own. */
    def separateCalls(ctx: Ctx, s: Setup, df: DataFrame, id: Long): Unit = {
      val run = s"b$id"
      def t[T](name: String)(body: => T): T = ctx.tracer.span(name, run)(body)
      val st = new Staged(ctx, df, id)
      try {
        t("cdc.latest_per_key") {
          Materialize.versionedState(st.unwrapped, Seq("table_name", "id"))
            .queryExecution.toRdd.count()
        }
        t("streaming.agg_view") {
          IncrementalAgg.deltas(st.parsed.filter(col("table_name") === s.gen.hotTable),
            viewSpec).queryExecution.toRdd.count()
        }
        // re-merging the batch the pipeline just merged is a replay:
        // the versioned merge leaves the mirror state unchanged
        t("sinks.mirror_merge") {
          st.tables.foreach { tb =>
            s.cfg.mirrorSink.merge(ctx.spark, s"${s.cfg.mirrorRoot}/$tb",
              st.unwrapped.filter(col("table_name") === tb).drop("table_name"),
              Seq("id"), id)
          }
        }
        t("sinks.dlq") {
          Envelope.dlq(st.parsed).repartition(1).write.mode("append")
            .parquet(s"${s.root}/dlq_separate")
        }
      } finally st.unpersist()
    }

    def replicate(ctx: Ctx, s: Setup, untraced: Loop): Unit = {
      val r = ctx.result
      val tr = ctx.tracer
      def med(name: String): Double = {
        val xs = tr.named(name).map(_.ms)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      val pb = tr.named("streaming.process_batch")
      val n = math.max(1, pb.size).toDouble
      val stageNames = Seq("cdc.route", "cdc.parse", "cdc.unwrap", "cdc.latest_per_key",
        "streaming.agg_view", "sinks.mirror_merge", "sinks.dlq")
      stageNames.foreach(x => r.metric(s"${x}_ms", med(x), "ms"))
      r.metric("streaming.process_batch_ms", med("streaming.process_batch"), "ms")
      r.metric("streaming.stage_sum_ms", stageNames.map(med).sum, "ms")
      r.metric("sinks.bytes_written_per_batch",
        Tracer.total(pb)(_.outputBytes.get) / n, "bytes")
      r.metric("sinks.mirror_disk_bytes", ctx.du(s.cfg.mirrorRoot).toDouble, "bytes")
      val dlq = CdcPipeline.deadLetters(ctx.spark, s.cfg).count()
      r.metric("sinks.dlq_records", dlq.toDouble, "count")
      // dead letters per planted poison record should be exactly 1
      r.metric("sinks.dlq_ratio_error",
        math.abs(dlq.toDouble / math.max(1, s.gen.poison.size) - 1), "ratio")
      r.metric("spark.jobs_per_batch", Tracer.total(pb)(_.jobs.get) / n, "count")
      r.metric("spark.tasks_per_batch", Tracer.total(pb)(_.tasks.get) / n, "count")
      r.metric("spark.shuffle_bytes_per_batch",
        Tracer.total(pb)(_.shuffleBytes.get) / n, "bytes")
      r.metric("spark.spill_bytes", Tracer.total(pb)(_.spillBytes.get).toDouble, "bytes")
      r.metric("spark.core_busy_ratio",
        Tracer.total(pb)(_.runMs.get) / math.max(1e-9, pb.map(_.ms).sum * ctx.cores), "ratio")
      r.metric("jvm.heap_peak_mb", Tracer.heapPeakMb, "MB")
      r.metric("trace.overhead_ms",
        med("streaming.process_batch") - Stats.median(untraced.ms), "ms")
    }

  }
}
