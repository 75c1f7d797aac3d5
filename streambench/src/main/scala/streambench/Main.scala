package streambench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

/** Runs one workload and prints its result as the last line of stdout:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (untraced run) or the per-layer metrics (traced run). */
object Main {

  /** The tail latency is a per-layer metric: on the open loop it is set
    * by the slowest one or two of a run's ~20 triggers, and its spread
    * across seeds exceeds any usable regression bound. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "throughput_rps" -> "1/s", "latency_p50_ms" -> "ms", "setup_s" -> "s")

  private val queryMetrics = Seq("batches" -> "count", "trigger_ms" -> "ms",
    "latestOffset_ms" -> "ms", "queryPlanning_ms" -> "ms", "addBatch_ms" -> "ms",
    "walCommit_ms" -> "ms", "commitOffsets_ms" -> "ms", "self_ms" -> "ms",
    "driver_ms" -> "ms", "busy_frac" -> "ratio", "rows_per_batch" -> "count")

  val PerLayer: Seq[(String, String)] = Seq(
    "textops.clean_ns_per_rec" -> "ns", "textops.bytes_in" -> "bytes", "textops.bytes_out" -> "bytes",
    "serde.encode_ns_per_rec" -> "ns", "serde.decode_ns_per_rec" -> "ns", "serde.value_bytes" -> "bytes",
    "lineops.hyperlink_ns_per_rec" -> "ns", "lineops.chunk_ns_per_rec" -> "ns",
    "lineops.blocks_per_rec" -> "count", "streaming.blockkit_ns_per_rec" -> "ns") ++
    Seq("producer", "consumer", "events").flatMap(q => queryMetrics.map { case (m, u) => s"streaming.$q.$m" -> u }) ++
    Seq(
    "graftlog.sink_write_ms" -> "ms", "graftlog.files" -> "count", "graftlog.bytes" -> "bytes",
    "graftlog.read_partitions" -> "count", "graftlog.ack_lag" -> "count",
    "state.rows_total" -> "count", "state.memory_bytes" -> "bytes", "state.commit_ms" -> "ms",
    "state.update_ms" -> "ms", "state.rows_updated" -> "count",
    "routing.kept_ratio" -> "ratio", "enrich.calls" -> "count", "enrich.retries" -> "count",
    "enrich.sentinels" -> "count", "enrich.client_ms" -> "ms", "enrich.useful_ratio" -> "ratio",
    "sink.posts" -> "count", "sink.dup_posts" -> "count", "sink.bytes" -> "bytes", "sink.client_ms" -> "ms",
    "analysis.lex_build_ms" -> "ms", "analysis.lex_merge_ms" -> "ms", "analysis.lex_forget_ms" -> "ms",
    "analysis.lex_probe_ms" -> "ms", "dedup.build_ms" -> "ms", "dedup.merge_ms" -> "ms",
    "dedup.forget_ms" -> "ms", "dedup.probe_ms" -> "ms", "dedup.admit_ratio" -> "ratio",
    "lifecycle.compactions" -> "count", "lifecycle.jobs_per_op" -> "count",
    "lifecycle.driver_gap_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.parallelism" -> "cores", "spark.driver_gap_ms" -> "ms", "spark.speedup_vs_1core" -> "ratio",
    "gen.late_ms_p99" -> "ms", "gen.late_ms_max" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "error_rate" -> "ratio", "latency.samples" -> "count", "latency.tail_ms" -> "ms", "latency.tail_pct" -> "%",
    "latency.over_limit_frac" -> "ratio",
    "trace.spans" -> "count", "trace.overhead_rps_pct" -> "%", "trace.overhead_p50_pct" -> "%")

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.all.contains(w), s"unknown workload $w (${Workloads.all.keys.mkString(", ")})")
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be at least 1")
    Args(w, need("seed").toLong, secs, need("trace") == "1", need("work"))
  }

  /** The benchmark's session: the confs of `graft.Bench`, with Spark's
    * scratch space kept inside the run's work directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def sleepUntil(t: Double): Unit = {
    val d = t - Clock.nowMs
    if (d > 0) Thread.sleep(d.toLong)
  }

  /** Generator lateness, past the first `skip` (warm-up) ticks. */
  def lateness(ctx: Ctx, late: Seq[Double], skip: Int): Unit = {
    val xs = late.drop(skip).sorted.toArray
    ctx.layer("gen.late_ms_p99") = if (xs.isEmpty) 0.0 else Stats.supportedTail(xs)._2
    ctx.layer("gen.late_ms_max") = if (xs.isEmpty) 0.0 else xs.last
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, args.work)
    System.err.println(f"[streambench] session ready at ${(Clock.nowMs - Clock.fromEpochMs(jvmStart)) / 1000}%.1f s")
    val ctx = new Ctx(spark, args, cpus, args.work)
    val workload = Workloads.all(args.workload)
    val outs = workload.run(ctx)
    System.err.println(f"[streambench] set up at ${(ctx.setupEndMs - Clock.fromEpochMs(jvmStart)) / 1000}%.1f s")
    System.err.println(f"[streambench] measured and checked at ${(Clock.nowMs - Clock.fromEpochMs(jvmStart)) / 1000}%.1f s")
    val untraced = outs.head
    val attempted = outs.map(_.records).sum
    val failed = outs.map(o => o.records - o.delivered).sum - ctx.seededFailures
    ctx.check(attempted > 0, "no records were due in the measured window")
    ctx.check(failed <= 0, s"$failed records never delivered")
    val setupS = (ctx.setupEndMs - Clock.fromEpochMs(jvmStart)) / 1000.0
    val lat = untraced.sorted
    def e2e(o: Outcome): Map[String, Double] = {
      val l = o.sorted
      Map("throughput_rps" -> o.rps,
        "latency_p50_ms" -> (if (l.isEmpty) 0.0 else Stats.percentile(l, 50)),
        "setup_s" -> setupS)
    }
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) EndToEnd.map { case (n, u) => (n, e2e(untraced)(n), u) }
      else {
        Layers.common(ctx, attempted, math.max(0L, failed))
        if (lat.nonEmpty) {
          ctx.layer("latency.samples") = lat.length
          ctx.layer("latency.tail_ms") = Stats.supportedTail(lat)._2
          ctx.layer("latency.tail_pct") = Stats.supportedTail(lat)._1
          ctx.layer("latency.over_limit_frac") = lat.count(_ > workload.latencyLimitMs).toDouble / lat.length
        }
        val (a, b) = (e2e(outs(0)), e2e(outs(1)))
        ctx.layer("trace.overhead_rps_pct") = 100 * (a("throughput_rps") - b("throughput_rps")) / a("throughput_rps")
        ctx.layer("trace.overhead_p50_pct") = 100 * (b("latency_p50_ms") - a("latency_p50_ms")) / a("latency_p50_ms")
        val dump = Paths.get(args.work).getParent.resolve(s"spans-${args.workload}-${args.seed}.jsonl")
        ctx.spans.dump(dump)
        System.err.println(s"[streambench] ${ctx.spans.all.size} spans written to $dump")
        PerLayer.map { case (n, u) => (n, ctx.layer.getOrElse(n, 0.0), u) }
      }
    if (!ctx.spark.sparkContext.isStopped) ctx.spark.stop()
    ctx.problems.foreach(p => System.err.println(s"[streambench] CHECK FAILED: $p"))
    System.err.println(f"[streambench] ${args.workload} seed=${args.seed} records=$attempted " +
      f"samples=${lat.length} tail=p${if (lat.isEmpty) 0.0 else Stats.supportedTail(lat)._1}%.2f")
    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": ${BigDecimal(x).bigDecimal.toPlainString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${ctx.problems.isEmpty}, "attempted": $attempted, """ +
      s""""failed": ${math.max(0L, failed)}, "metrics": {$body}}""")
  }
}

/** Per-layer metrics every workload reports from its traced slices. */
object Layers {
  def common(ctx: Ctx, attempted: Long, failed: Long): Unit = {
    val wall = math.max(1.0, ctx.tracedMs)
    val trig = ctx.queries.triggers.asScala.toSeq
      .filter(t => ctx.tracedSlices.exists { case (s, e) => t.startMs >= s && t.startMs < e })
    Traces.flush(ctx.spans)
    ctx.spans.link()
    val self = ctx.spans.selfTimes()
    val byTrace = ctx.spans.all.asScala.groupBy(_.trace)
    Seq("producer", "consumer", "events").foreach { q =>
      val ts = trig.filter(_.query == q)
      def p50(k: String) = Stats.median(ts.map(_.parts.getOrElse(k, 0L).toDouble))
      val pre = s"streaming.$q."
      ctx.layer(pre + "batches") = ts.size
      ctx.layer(pre + "trigger_ms") = Stats.median(ts.map(_.wallMs))
      Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach(k => ctx.layer(pre + k + "_ms") = p50(k))
      val sp = ts.flatMap(t => byTrace.getOrElse(t.trace, Nil))
      ctx.layer(pre + "self_ms") = Stats.median(sp.filter(_.name == s"trigger.$q").map(s => self(s.id)))
      // driver-side time on the blocking path: addBatch not spent in a
      // Spark job or client call (the addBatch phase and foreachBatch
      // body self times)
      ctx.layer(pre + "driver_ms") = Stats.median(ts.map { t =>
        byTrace.getOrElse(t.trace, Nil)
          .filter(s => s.name == s"phase.$q.addBatch" || s.name == s"fb.$q").map(s => self(s.id)).sum
      })
      ctx.layer(pre + "busy_frac") = ts.map(_.wallMs).sum / wall
      ctx.layer(pre + "rows_per_batch") = if (ts.isEmpty) 0.0 else ts.map(_.rows).sum.toDouble / ts.size
    }
    val ev = trig.filter(_.query == "events")
    if (ev.nonEmpty) {
      ctx.layer("state.rows_total") = ev.maxBy(_.startMs).stateRows.toDouble
      ctx.layer("state.memory_bytes") = ev.maxBy(_.startMs).stateMem.toDouble
      ctx.layer("state.commit_ms") = Stats.median(ev.map(_.stateCommitMs.toDouble))
      ctx.layer("state.update_ms") = Stats.median(ev.map(_.stateUpdateMs.toDouble))
      ctx.layer("state.rows_updated") = ev.map(_.stateUpdated).sum.toDouble / ev.size
    }
    val snap = ctx.sparkSnapshot
    snap.foreach { case (k, v) => ctx.layer(k) = v }
    ctx.layer("spark.parallelism") = snap.getOrElse("spark.task_ms", 0.0) / wall
    ctx.layer("spark.driver_gap_ms") =
      ctx.tracedSlices.map { case (s, e) => ctx.jobs.gapMs(s, e) }.sum /
        math.max(1.0, snap.getOrElse("spark.jobs", 0.0))
    ctx.layer("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    ctx.layer("error_rate") = (failed + ctx.seededFailures).toDouble / math.max(1L, attempted)
    ctx.layer("trace.spans") = ctx.spans.all.size
  }
}
