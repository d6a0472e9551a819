package perfbench

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.cdc.Fixture
import graft.sinks.{LogMirror, LogMirrorSink, MirrorSink}
import graft.streaming.CdcPipeline

/** `analytics`: one client in a closed loop over a mirror that set-up
  * builds from the seeded stream with the default `Config`. Each pass
  * runs (a) a full scan of every mirror table with a group-by, like the
  * reference's integrity DAG, (b) point lookups on Zipf-drawn keys and
  * (c) a fixed list of catalog queries over the sf0.01 tables. The
  * whole pass is timed.
  *
  * Passes are cold: `spark.catalog.clearCache()` runs before every pass,
  * so no pass reuses data an earlier pass cached. */
object Analytics {
  val Queries: Seq[String] = Seq(
    "cdc_merge_incremental", "agg_latest_per_key", "join_salted_skew",
    "dedup_minhash_lsh_pairs", "join_market_share", "join_asof_native",
    "window_session", "text_tfidf_topk", "pipeline_curate_pack", "agg_pricing_summary")
  val KeySpace = 20000
  /** The mirror's history after its initial load, sized to a
    * `LogMirrorSink` mirror in steady state: it folds a table when the
    * table's delta list reaches its threshold (`maxDeltas`, staggered up
    * to 1.5 times that), so the depth cycles from 0 up and averages about
    * half the threshold. The load's segment plus `maxDeltas / 2` update
    * batches sit there. The default sink keeps no deltas; with a
    * log-structured one the reads reconcile that many segments. */
  val HistoryBatches: Int = LogMirrorSink().maxDeltas / 2
  val BatchSize = 2500
  val LookupsPerPass = 40

  final class Setup(val gen: Gen, val cfg: CdcPipeline.Config)

  def config(root: String, sink: Option[MirrorSink] = None): CdcPipeline.Config =
    CdcPipeline.Config(Fixture.rowSchema, Seq("id"), s"$root/mirror", s"$root/dlq",
      s"$root/ckpt", sinkOverride = sink)

  /** Load every key (batch 0), then apply `HistoryBatches` update
    * batches (batches 1 to `HistoryBatches`). */
  def build(ctx: Ctx, gen: Gen, cfg: CdcPipeline.Config): Unit = {
    val spark = ctx.spark
    CdcPipeline.processBatch(spark.createDataFrame(gen.snapshot(1L).map(_.rec)), 0L, cfg)
    (1 to HistoryBatches).foreach { b =>
      val changes = gen.batch(BatchSize, seq => 1000L + seq)
      CdcPipeline.processBatch(spark.createDataFrame(changes.map(_.rec)), b.toLong, cfg)
    }
  }

  def setup(ctx: Ctx, name: String): Setup = ctx.setup {
    val gen = new Gen(ctx.seed, KeySpace)
    val cfg = config(ctx.dir(name))
    build(ctx, gen, cfg)
    new Setup(gen, cfg)
  }

  final case class Pass(ms: Double, scanMs: Double, lookupMs: Seq[Double],
                        queryMs: Map[String, Double], rows: Map[String, Long]) {
    def catalogS: Double = queryMs.values.sum / 1e3
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    // one set-up: a second would cost as much again (the history is
    // batches through the default sink) and not fit the run budget
    val s = setup(ctx, "measured")
    ctx.reportSetup()
    // one untimed pass writes every query's result for the oracle check
    // and compiles the catalog's code paths before timing
    val verified = writeResults(ctx)
    r.str("cache_contract", "cold: spark.catalog.clearCache() before every pass")
    r.num("key_space", KeySpace)
    r.num("history_batches", HistoryBatches)
    r.num("history_batch_events", BatchSize)

    val untraced = loop(ctx, s, traced = false)
    r.metric("pass_ms", Stats.median(untraced.map(_.ms)), "ms")
    r.metric("catalog_s", Stats.median(untraced.map(_.catalogS)), "s")
    r.metric("mirror_scan_ms", Stats.median(untraced.map(_.scanMs)), "ms")
    r.metric("lookup_p50_ms", Stats.median(untraced.flatMap(_.lookupMs)), "ms")
    // passes per second: scan, lookups and queries all gate it
    r.metric("throughput_per_s", 1e3 / Stats.median(untraced.map(_.ms)), "1/s")
    r.metric("p50_ms", Stats.median(untraced.flatMap(_.lookupMs)), "ms")
    r.metric("tail_ms", Stats.tail(untraced.flatMap(_.lookupMs)).value, "ms")
    r.info("query_ms") = Queries.map(q => s"${Json.str(q)}:${Json.num(
      Stats.median(untraced.map(_.queryMs(q))))}").mkString("{", ",", "}")
    r.num("passes", untraced.size)
    r.num("lookup_samples", untraced.map(_.lookupMs.size).sum)

    val traced = if (ctx.trace) loop(ctx, s, traced = true) else Nil
    if (ctx.trace) {
      layers(ctx, s, traced, untraced)
      PollHop.run(ctx)
    }
    Queries.foreach { q =>
      val timed = (untraced ++ traced).map(_.rows(q)).distinct
      r.check(s"rows_$q", timed == Seq(verified(q)),
        s"timed row counts $timed vs ${verified(q)} written")
    }
  }

  def loop(ctx: Ctx, s: Setup, traced: Boolean): Seq[Pass] = {
    val out = Seq.newBuilder[Pass]
    ctx.tracer.enabled = traced
    Tracer.resetHeapPeak()
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      ctx.spark.catalog.clearCache()
      out += ctx.tracer.span("pass", s"p$i")(pass(ctx, s, s"p$i"))
      i += 1
    }
    ctx.tracer.enabled = false
    out.result()
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def pass(ctx: Ctx, s: Setup, run: String): Pass = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val r = ctx.result

    val t0 = System.nanoTime()
    val scan = tr.span("sinks.mirror_read", run) {
      Gen.tables.map { t =>
        CdcPipeline.mirror(spark, s.cfg, t).withColumn("table_name", lit(t))
      }.reduce(_ unionByName _)
        .groupBy(col("table_name"))
        .agg(count(lit(1)).as("n"), max(col("id")).as("max_id"))
        .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    }
    val scanMs = ms(t0)
    val expected = Gen.tables.map { t =>
      val ids = s.gen.expected(t).map(_.id)
      t -> (ids.size.toLong, ids.max)
    }.toMap
    r.check(s"mirror_scan_$run", scan == expected, s"$scan vs $expected")

    val lookups = (1 to LookupsPerPass).map { _ =>
      val id = s.gen.nextId()
      val t1 = System.nanoTime()
      val got = tr.span("sinks.lookup", run) {
        CdcPipeline.lookup(spark, s.cfg, Gen.table(id), Seq(id))
          .select(col("id"), col("o_orderstatus"), col("o_totalprice")).collect()
          .map(x => Gen.Row(x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
      }
      val dt = ms(t1)
      r.op(got == s.gen.state.get(id).toSeq)
      dt
    }

    val results = Queries.map { q =>
      val t2 = System.nanoTime()
      val rows = try {
        tr.span(s"operators.$q", run) {
          val df = SparkEntry.queries(q)(spark, ctx.dataDir)
          if (tr.enabled) {
            val st = graft.plans.ShuffleStats.run(df)
            shuffle(q) = (st.shuffleBytes, st.spillBytes)
            st.rows
          } else df.queryExecution.toRdd.count()
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e")
          -1L
      }
      r.op(rows >= 0)
      (q, ms(t2), rows)
    }
    Pass(ms(t0), scanMs, lookups, results.map(x => x._1 -> x._2).toMap,
      results.map(x => x._1 -> x._3).toMap)
  }

  private val shuffle = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  /** Write each query's result for the DuckDB oracle comparison
    * `run.py` makes, with the oracle SQL next to them. Returns each
    * result's row count, which every timed execution must repeat. */
  def writeResults(ctx: Ctx): Map[String, Long] = {
    val out = ctx.dir("results")
    val counts = Queries.map { q =>
      SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      q -> ctx.spark.read.parquet(s"$out/$q").count()
    }.toMap
    Files.writeString(Paths.get(out, "oracle_sql.json"), Queries.map { q =>
      s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}"
    }.mkString("{", ",", "}"))
    ctx.spark.catalog.clearCache()
    counts
  }

  def layers(ctx: Ctx, s: Setup, traced: Seq[Pass], untraced: Seq[Pass]): Unit = {
    val r = ctx.result
    val tr = ctx.tracer
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val ops = Queries.flatMap(q => tr.named(s"operators.$q"))
    Queries.foreach { q =>
      val sp = tr.named(s"operators.$q")
      r.metric(s"operators.${q}_ms", med(sp.map(_.ms)), "ms")
      // the span's task metrics count every job the query ran, cache
      // fills included; ShuffleStats sees only the final plan's exchanges
      r.metric(s"operators.$q.shuffle_bytes", Tracer.total(sp)(_.shuffleBytes.get)
        / math.max(1.0, sp.size), "bytes")
      r.metric(s"operators.$q.spill_bytes", Tracer.total(sp)(_.spillBytes.get)
        / math.max(1.0, sp.size), "bytes")
      r.metric(s"operators.$q.task_skew", med(sp.map(_.c.taskSkew)), "ratio")
    }
    r.info("plan_shuffle_spill_bytes") = Queries.map { q =>
      val (sh, spill) = shuffle.getOrElse(q, (0L, 0L))
      s"${Json.str(q)}:[$sh,$spill]"
    }.mkString("{", ",", "}")
    val lk = tr.named("sinks.lookup")
    r.metric("sinks.mirror_read_ms", med(tr.named("sinks.mirror_read").map(_.ms)), "ms")
    r.metric("sinks.lookup_ms", med(lk.map(_.ms)), "ms")
    r.metric("spark.tasks_per_lookup",
      Tracer.total(lk)(_.tasks.get) / math.max(1.0, lk.size), "count")
    r.metric("sinks.delta_depth", deltaDepth(ctx, s.cfg), "count")
    r.metric("sinks.mirror_disk_bytes", ctx.du(s.cfg.mirrorRoot).toDouble, "bytes")
    val n = math.max(1, ops.size).toDouble
    r.metric("spark.jobs_per_batch", Tracer.total(ops)(_.jobs.get) / n, "count")
    r.metric("spark.tasks_per_batch", Tracer.total(ops)(_.tasks.get) / n, "count")
    r.metric("spark.shuffle_bytes_per_batch", Tracer.total(ops)(_.shuffleBytes.get) / n, "bytes")
    r.metric("spark.spill_bytes", Tracer.total(ops)(_.spillBytes.get).toDouble, "bytes")
    val passes = tr.named("pass")
    r.metric("spark.core_busy_ratio",
      tr.allRunMs.get / math.max(1e-9, passes.map(_.ms).sum * ctx.cores), "ratio")
    r.metric("jvm.heap_peak_mb", Tracer.heapPeakMb, "MB")
    r.metric("trace.overhead_ms", med(traced.map(_.ms)) - med(untraced.map(_.ms)), "ms")
  }

  /** Median over the tables of the delta segments a read reconciles: the
    * manifest's delta count for a `LogMirrorSink` mirror, 0 for a sink
    * that keeps none (the default `SwapMirror` rewrites each table). */
  def deltaDepth(ctx: Ctx, cfg: CdcPipeline.Config): Double = cfg.mirrorSink match {
    case _: LogMirrorSink =>
      val fs = new Path(cfg.mirrorRoot).getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
      Stats.median(Gen.tables.map { t =>
        LogMirror.readManifest(fs, s"${cfg.mirrorRoot}/$t").getOrElse(
          sys.error(s"no LogMirror manifest for $t")).deltas.size.toDouble
      })
    case _ => 0.0
  }
}
