package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.{ChangefeedReplicator, IncrementalAggView, LogMirror, LogMirrorSink}
import graft.streaming.CdcPipeline

/** The poll hop, measured in `analytics`' traced run: a copy of the
  * analytics mirror on `LogMirrorSink`, built from the same seeded
  * stream, takes one small batch per cycle through
  * `CdcPipeline.processBatch`; after each batch one
  * `IncrementalAggView.poll` and one `ChangefeedReplicator.poll` on the
  * hottest table apply it. A `LogMirror.compact` of that table ends the
  * phase. */
object PollHop {
  val Cycles = 3
  val BatchSize = 500
  private val viewAggs = Seq(count(lit(1)).as("n_rows"), sum(col("o_totalprice")).as("sum_total"))

  final case class Poll(rows: Long, resnapshot: Boolean)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val r = ctx.result
    val root = ctx.dir("pollhop")
    val gen = new Gen(ctx.seed, Analytics.KeySpace)
    val sink = LogMirrorSink()
    val cfg = Analytics.config(root, Some(sink))
    val hotRoot = s"${cfg.mirrorRoot}/${gen.hotTable}"
    val (viewRoot, replicaRoot) = (s"$root/view", s"$root/replica")
    Analytics.build(ctx, gen, cfg)

    val viewPolls, replicaPolls = mutable.ArrayBuffer.empty[Poll]
    def polls(run: String): Unit = {
      val v = tr.span("sinks.view_poll", run) {
        IncrementalAggView.poll(spark, hotRoot, viewRoot, Seq("o_orderstatus"), viewAggs)
      }
      viewPolls += Poll(v.groupsRefreshed, v.resnapshot)
      r.op(ok = true)
      val rp = tr.span("sinks.replica_poll", run) {
        ChangefeedReplicator.poll(spark, hotRoot, replicaRoot, sink, Seq("id"))
      }
      replicaPolls += Poll(rp.applied, rp.resnapshot)
      r.op(ok = true)
    }
    // the first polls build the view and the replica from the whole mirror
    polls("h0")
    viewPolls.clear()
    replicaPolls.clear()

    // a fold publishes a new base segment
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bases(): Seq[Option[Long]] =
      Gen.tables.map(t => LogMirror.readManifest(fs, s"${cfg.mirrorRoot}/$t").flatMap(_.base))
    var folds = 0
    def write(name: String, run: String)(body: => Unit): Unit = {
      val before = bases()
      tr.span(name, run)(body)
      folds += before.zip(bases()).count { case (a, b) => a != b }
    }

    tr.enabled = true
    val depth = mutable.ArrayBuffer.empty[Double]
    (1 to Cycles).foreach { c =>
      val batchId = Analytics.HistoryBatches.toLong + c
      val df = spark.createDataFrame(gen.batch(BatchSize, seq => 1000L + seq).map(_.rec))
      write("sinks.log_batch", s"h$c")(CdcPipeline.processBatch(df, batchId, cfg))
      r.op(ok = true)
      depth += Analytics.deltaDepth(ctx, cfg)
      polls(s"h$c")
    }
    write("sinks.compact", "hc")(LogMirror.compact(spark, hotRoot))
    tr.enabled = false

    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val (vp, rp) = (tr.named("sinks.view_poll"), tr.named("sinks.replica_poll"))
    r.metric("sinks.view_poll_ms", med(vp.map(_.ms)), "ms")
    r.metric("sinks.replica_poll_ms", med(rp.map(_.ms)), "ms")
    r.metric("sinks.view_groups_refreshed", mean(viewPolls.map(_.rows.toDouble).toSeq), "count")
    r.metric("sinks.replica_rows_applied", mean(replicaPolls.map(_.rows.toDouble).toSeq), "count")
    val all = (viewPolls ++ replicaPolls).toSeq
    r.metric("sinks.resnapshots_per_poll", all.count(_.resnapshot) / math.max(1.0, all.size), "ratio")
    r.metric("spark.jobs_per_poll",
      Tracer.total(vp ++ rp)(_.jobs.get) / math.max(1.0, (vp ++ rp).size), "count")
    // folds of any table, automatic ones included; the timed fold is the
    // explicit one of the hot table
    r.metric("sinks.compactions", folds.toDouble, "count")
    r.metric("sinks.compact_ms", med(tr.named("sinks.compact").map(_.ms)), "ms")
    r.num("pollhop_cycles", Cycles)
    r.num("pollhop_batch_events", BatchSize)
    r.info("pollhop_delta_depth") = depth.map(Json.num).mkString("[", ",", "]")
    verify(ctx, gen, cfg, hotRoot, viewRoot, replicaRoot)
  }

  /** The copy holds the generator's state, the replica equals the hot
    * table, and the view equals that table's aggregate. */
  def verify(ctx: Ctx, gen: Gen, cfg: CdcPipeline.Config, hotRoot: String,
             viewRoot: String, replicaRoot: String): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    def rows(df: DataFrame): Seq[Gen.Row] =
      df.select(col("id"), col("o_orderstatus"), col("o_totalprice")).collect()
        .map(x => Gen.Row(x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
    val mirror = LogMirror.read(spark, hotRoot)
    val mir = Gen.fingerprint(rows(mirror))
    val exp = Gen.fingerprint(gen.expected(gen.hotTable))
    r.check("pollhop_mirror_state", mir == exp, s"rows ${mir._1} vs expected ${exp._1}")
    val rep = Gen.fingerprint(rows(LogMirror.read(spark, replicaRoot)))
    r.check("replica_equals_mirror", rep == mir, s"rows ${rep._1} vs ${mir._1}")
    def agg(df: DataFrame): Set[(String, Long, Double)] =
      df.select(col("o_orderstatus"), col("n_rows"), col("sum_total")).collect()
        .map(x => (x.getString(0), x.getLong(1), x.getDouble(2))).toSet
    val view = agg(IncrementalAggView.read(spark, viewRoot))
    val expView = agg(mirror.groupBy(col("o_orderstatus")).agg(viewAggs.head, viewAggs.tail: _*))
    r.check("view_equals_mirror_aggregate", view == expView,
      s"${view.size} groups vs ${expView.size}")
  }
}
