package streambench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => SparkTrigger}

import graft.{Dedup, LineOps, Serde, TextAnalysis, TextOps}
import graft.streaming.StreamingOps

/** What one class of measured records delivered: `records` were due,
  * `delivered` of them arrived at `rps` records per second; `lat` are
  * the latency samples. */
final case class Outcome(records: Long, delivered: Long, rps: Double, lat: Array[Double]) {
  def sorted: Array[Double] = lat.sorted
}

/** The state one run shares with its workload. */
final class Ctx(val spark: SparkSession, val args: Args, val cpus: Int, val work: String) {
  val spans = new Spans(args.trace)
  val jobs = new JobProbe(spans)
  val queries = new QueryProbe(spans, jobs)
  val layer = mutable.LinkedHashMap[String, Double]()
  val problems = mutable.ArrayBuffer[String]()
  var setupEndMs = 0.0
  /** Records that failed by the generator's own plan (seeded enrichment
    * failures); they count toward `error_rate`, not toward `failed`. */
  var seededFailures = 0L
  private var tracing = false

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }

  /** The measured time is cut into slices (polls, cycles or seconds of an
    * open loop). A traced run traces slices 1, 2, 5, 6, ... and leaves
    * 0, 3, 4, 7, ... untraced: the two classes see the same warm-up
    * trend, so their difference is the tracing overhead. */
  def tracedSlice(i: Int): Boolean = args.trace && (i % 4 == 1 || i % 4 == 2)
  /** Untraced, then (traced run) traced. */
  def classes: Seq[Boolean] = if (args.trace) Seq(false, true) else Seq(false)
  def slice(traced: Boolean): Unit = if (traced) traceOn() else traceOff()

  /** The intervals during which the listeners were attached. */
  val tracedSlices = mutable.ArrayBuffer[(Double, Double)]()
  private var sliceFrom = 0.0
  def tracedMs: Double = tracedSlices.map(x => x._2 - x._1).sum

  private def traceOn(): Unit = if (args.trace && !tracing) {
    tracing = true
    spans.active = true
    sliceFrom = Clock.nowMs
    spark.streams.active.foreach(q => jobs.queryNames.put(q.id.toString, q.name))
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(queries)
  }

  private def traceOff(): Unit = if (tracing) {
    tracing = false
    spans.active = false
    tracedSlices += ((sliceFrom, Clock.nowMs))
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(queries)
  }

  /** Scheduler totals of the traced slices, taken when measuring ends. */
  var sparkSnapshot: Map[String, Double] = Map.empty

  /** End measuring: later work (checks, kernel passes) is not traced. */
  def endTrace(): Unit = if (args.trace) {
    traceOff()
    sparkSnapshot = Map("spark.jobs" -> jobs.jobs, "spark.stages" -> jobs.stages,
      "spark.tasks" -> jobs.tasks, "spark.task_ms" -> jobs.taskMs, "spark.gc_ms" -> jobs.gcMs,
      "spark.shuffle_read_bytes" -> jobs.shuffleRead, "spark.shuffle_write_bytes" -> jobs.shuffleWrite,
      "spark.spill_bytes" -> jobs.spill).map { case (k, v) => k -> v.sum.toDouble }
    layer("sink.posts") = Posts.posts.sum.toDouble
    layer("sink.dup_posts") = Posts.dups.sum.toDouble
    layer("sink.bytes") = Posts.bytes.sum.toDouble
    layer("sink.client_ms") = Posts.clientNs.sum / 1e6 / math.max(1L, Posts.posts.sum)
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
}

trait Workload {
  /** The latency limit the tail percentile is judged against. */
  def latencyLimitMs: Double
  /** Set up, measure and check; returns the outcome of each class of
    * [[Ctx.classes]]. */
  def run(ctx: Ctx): Seq[Outcome]
}

object Workloads {
  val all: Map[String, Workload] = Map(
    "newsletter_bulk" -> Bulk, "slack_events" -> Events, "index_upkeep" -> IndexUpkeep)

  /** Open-loop generator: every `tickMs` it calls `emit` with the tick's
    * scheduled time, which is when the records it hands over are due; it
    * never waits for the system, so a stall shows as latency, and its own
    * lateness is kept. */
  final class Ticker(tickMs: Int, startMs: Double, endMs: Double,
                     emit: Double => Unit) extends Thread("generator") {
    val late = mutable.ArrayBuffer[Double]()
    @volatile var error: Throwable = _
    setDaemon(true)
    override def run(): Unit = try {
      var t = 0L
      var due = startMs
      while (due < endMs) {
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        emit(due)
        late += Clock.nowMs - due
        t += 1
        due = startMs + t * tickMs
      }
    } catch { case e: Throwable => error = e }
  }

  /** Outcome of records given as (due, delivery), at `rps`. */
  def outcome(recs: Seq[(Double, Option[Double])], rps: Double): Outcome = {
    val got = recs.collect { case (d, Some(p)) => (d, p) }
    Outcome(recs.size, got.size, rps, got.map { case (d, p) => p - d }.toArray)
  }

  /** Closed-loop throughput: the median over polls or cycles of
    * (records, wall ms), robust to the warm-up trend across them and to
    * how many fit in the run. */
  def medianRate(units: Seq[(Int, Double)]): Double =
    Stats.median(units.map { case (n, ms) => n * 1000.0 / ms })

  def stopAll(qs: StreamingQuery*): Unit = qs.foreach(q => try q.stop() catch { case _: Throwable => })
}

import Workloads._

/** Kernel timings: noop batch passes over the run's own records through
  * the same public Column functions the stream fuses into one stage.
  * One partition, so ns/record is single-core cost. */
object Kernels {
  def measure(ctx: Ctx, emails: Seq[Email]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val n = emails.size.toDouble
    def cached(df: DataFrame): DataFrame = {
      val c = df.coalesce(1).cache()
      c.count()
      c
    }
    def pass(df: DataFrame): Double = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }.min
    /** ns per record of `f` over `in`, less a plain scan of `in`. */
    def perRec(in: DataFrame, f: DataFrame => DataFrame): Double =
      math.max(0.0, (pass(f(in)) - pass(in)) / n)
    val raw = cached(emails.toDS().toDF())
    val cleaned = cached(raw.select(col("seqno"), TextOps.subjectStyle(col("subject")).as("subject"),
      TextOps.cleanBodyPlain(col("body")).as("body")))
    val values = cached(cleaned.select(
      Serde.toAvroEmail(col("seqno"), col("subject"), col("body")).as("value")))
    val linked = cached(cleaned.withColumn("body_linked", LineOps.hyperlinkHeadingsHof("body")))
    ctx.layer("textops.clean_ns_per_rec") = perRec(raw, _.select(TextOps.cleanBodyPlain(col("body"))))
    ctx.layer("textops.bytes_in") = emails.map(_.body.length.toLong).sum.toDouble
    ctx.layer("textops.bytes_out") = cleaned.agg(sum(length(col("body")))).first().getLong(0).toDouble
    ctx.layer("serde.encode_ns_per_rec") = perRec(cleaned,
      _.select(Serde.toAvroEmail(col("seqno"), col("subject"), col("body"))))
    ctx.layer("serde.decode_ns_per_rec") = perRec(values, _.select(Serde.fromAvroEmail(col("value"))))
    ctx.layer("serde.value_bytes") = values.agg(sum(length(col("value")))).first().getLong(0) / n
    ctx.layer("lineops.hyperlink_ns_per_rec") = perRec(cleaned, _.select(LineOps.hyperlinkHeadingsHof("body")))
    val chunks = LineOps.chunkBlocks("body_linked", Pipelines.BlockBudget)
    ctx.layer("lineops.chunk_ns_per_rec") = perRec(linked, _.select(chunks))
    ctx.layer("lineops.blocks_per_rec") = linked.agg(avg(size(chunks))).first().getDouble(0)
    ctx.layer("streaming.blockkit_ns_per_rec") = perRec(linked,
      StreamingOps.blockKitPayload(_, "seqno", "subject", "body_linked", Pipelines.BlockBudget))
    Seq(raw, cleaned, values, linked).foreach(_.unpersist())
  }
}

/** Catch-up after an outage: every email of a poll is due at once; the
  * producer and then the consumer leg drain it with AvailableNow. */
object Bulk extends Workload {
  val latencyLimitMs = 10000.0 // a poll drains within 10 s
  val PerPoll = 300

  val WarmPoll = 100
  private val SeqnoTok = "TLDR #(\\d+)".r
  /** The email a posted payload carries: its subject holds the seqno. */
  val seqnoOf: String => Long = p => SeqnoTok.findFirstMatchIn(p).map(_.group(1).toLong).getOrElse(-1L)

  final class Poll(ctx: Ctx, c: Int, n: Int = PerPoll) {
    val emails: Seq[Email] = (0 until n).map(i => Gen.newsletterLong(ctx.args.seed, c * PerPoll + i))
    /** Drain the poll; returns (due, end). */
    def drain(spark: SparkSession): (Double, Double) = {
      import spark.implicits._
      val mem = MemoryStream[Email](spark)
      mem.addData(emails) // one poll = one block, as the IMAP fetch delivers it
      val log = ctx.dir(s"poll$c/log")
      val due = Clock.nowMs
      val p = Pipelines.producer(mem.toDF(), log, ctx.dir(s"poll$c/ckp"),
        SparkTrigger.AvailableNow(), ctx.spans)
      p.awaitTermination()
      val q = Pipelines.consumer(spark, log, ctx.dir(s"poll$c/ckc"), SparkTrigger.AvailableNow())
      q.awaitTermination()
      (due, Clock.nowMs)
    }
  }

  def run(ctx: Ctx): Seq[Outcome] = {
    Posts.reset(ctx.spans, "consumer", seqnoOf)
    val all = mutable.ArrayBuffer[Email]()
    var c = 0
    var lastTraced = ("", 0.0)
    /** Drain one poll; returns (emails, due, end). */
    def poll(n: Int): (Seq[Email], Double, Double) = {
      val p = new Poll(ctx, c, n)
      val (d, e) = p.drain(ctx.spark)
      System.err.println(f"[streambench] poll $c of $n emails: ${e - d}%.0f ms")
      c += 1
      all ++= p.emails
      (p.emails, d, e)
    }
    poll(WarmPoll) // the first poll also pays for query start and JIT
    ctx.setupEndMs = Clock.nowMs
    val polls = mutable.ArrayBuffer[(Boolean, Seq[Email], Double, Double)]()
    val s = Clock.nowMs
    while (Clock.nowMs - s < ctx.args.seconds * 1000 || (ctx.args.trace && polls.size < 4)) {
      val traced = ctx.tracedSlice(polls.size)
      ctx.slice(traced)
      if (traced) lastTraced = (ctx.dir(s"poll$c/log"), Clock.nowMs)
      val (emails, d, e) = poll(PerPoll)
      polls += ((traced, emails, d, e))
    }
    ctx.endTrace()
    val outs = ctx.classes.map { traced =>
      val ps = polls.filter(_._1 == traced)
      outcome(ps.flatMap { case (_, emails, d, _) =>
          emails.map(m => (d, Option(Posts.first.get(m.seqno.toLong)).map(_.doubleValue)))
        }.toSeq, medianRate(ps.map(p => (p._2.size, p._4 - p._3)).toSeq))
    }
    val posted = Posts.first.size
    ctx.check(posted == all.size, s"posted ${posted} of ${all.size} emails")
    val expect = Pipelines.expectedPayloads(ctx.spark, all.toSeq, ctx.cpus)
    ctx.check(expect == Posts.payloads.asScala.toSet,
      s"payload mismatch: ${expect.size} expected, ${Posts.payloads.size} posted")
    if (ctx.args.trace) {
      LogStats.report(ctx, lastTraced._1, lastTraced._2)
      Kernels.measure(ctx, all.take(PerPoll / 2).toSeq)
      // both sides untraced: the listeners are off in this class and in the re-run
      ctx.layer("spark.speedup_vs_1core") = outs.head.rps / singleCore(ctx)
    }
    outs
  }

  /** The same poll drained by a `local[1]` session: the single-core
    * baseline the traced run divides by. */
  private def singleCore(ctx: Ctx): Double = {
    ctx.spark.stop()
    val one = Main.session(1, ctx.work)
    try {
      Posts.reset(new Spans(false), "consumer", seqnoOf)
      new Poll(ctx, 1000, WarmPoll).drain(one) // warm the new session
      Posts.reset(new Spans(false), "consumer", seqnoOf)
      val (d, e) = new Poll(ctx, 1001).drain(one)
      PerPoll * 1000.0 / (e - d)
    } finally one.stop()
  }
}

/** GraftLog counters read from the log directory after the run. */
object LogStats {
  /** `log` was read by the consumer batches that started after `since`. */
  def report(ctx: Ctx, log: String, since: Double): Unit = {
    val files = Files.list(Paths.get(log))
    val all = try files.iterator().asScala.toSeq finally files.close()
    val segs = all.filter(_.getFileName.toString.endsWith(".seg"))
    ctx.layer("graftlog.files") = all.size
    ctx.layer("graftlog.bytes") = segs.map(Files.size).sum.toDouble
    val trig = ctx.queries.triggers.asScala.filter(_.startMs >= since)
    val batches = trig.count(_.query == "consumer")
    ctx.layer("graftlog.read_partitions") = if (batches == 0) 0.0 else segs.size.toDouble / batches
    // records published to the log but not yet acknowledged by the source
    // commit, which lands only when the consumer plans its next batch
    val published = trig.filter(_.query == "producer").map(_.rows).sum
    ctx.layer("graftlog.ack_lag") =
      (published - math.max(0L, graft.streaming.GraftLog.committedOffset(log))).toDouble
    ctx.layer("graftlog.sink_write_ms") = Stats.median(ctx.spans.named("fb.producer").map(_.ms))
  }
}

/** The event-server leg: Zipf-keyed Slack messages at a fixed rate,
  * bot filter, keyed last-100 history, enrichment with seeded failures,
  * threaded replies. */
object Events extends Workload {
  val latencyLimitMs = 4000.0 // a reply within two trigger intervals of its message
  /** Half the prototype's 1000/s. */
  val Rate = 500
  val TickMs = 100
  val Keys = 2000
  val BotPerMille = 100
  /** Warm-up at twice the rate, so the JIT sees more rows before timing. */
  val WarmS = 8.0
  val SliceS = 2.0

  def run(ctx: Ctx): Seq[Outcome] = {
    val spark = ctx.spark
    import spark.implicits._
    Posts.reset(ctx.spans, "events", p => Llm.eventOf(p), "[enrichment unavailable]")
    Llm.reset(ctx.args.seed, ctx.spans)
    val mem = MemoryStream[SlackEvent](spark)
    val q = Pipelines.events(spark, mem.toDF(), ctx.dir("ck"), ctx.cpus, ctx.spans)
    val cdf = Gen.zipfCdf(Keys)
    val perTick = Rate * TickMs / 1000
    val start = Clock.nowMs + 200
    val w0 = start + WarmS * 1000
    val end = w0 + ctx.args.seconds * 1000
    val due = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[SlackEvent]()
    var next = 0L
    val ticker = new Ticker(TickMs, start, end, d => {
      val n = if (d < w0) 2 * perTick else perTick
      val batch = (next until next + n).map(i =>
        Gen.slackEvent(ctx.args.seed, i, cdf, BotPerMille, 1700000000000L + i))
      next += n
      batch.foreach { e => due.put(e.event_id, d); sent.add(e) }
      mem.addData(batch)
    })
    ticker.start()
    ctx.setupEndMs = w0
    val slices = (ctx.args.seconds / SliceS).ceil.toInt
    def sliceOf(d: Double): Int = ((d - w0) / (SliceS * 1000)).toInt
    try {
      (0 until slices).foreach { k =>
        Main.sleepUntil(w0 + k * SliceS * 1000)
        ctx.slice(ctx.tracedSlice(k))
      }
      ticker.join()
      Option(ticker.error).foreach(throw _)
      q.processAllAvailable()
      ctx.endTrace()
    } finally stopAll(q)

    val kept = sent.asScala.toSeq.filter(e => e.subtype == null && e.bot_id == null)
    val byKey = kept.groupBy(e => Gen.historyKey(e.channel, e.thread_ts))
    // a reply covers every earlier event of its key: an event is delivered
    // when the first reply whose last event is at or after it is posted
    val replies = Posts.first.asScala.map { case (ev, t) => ev.longValue -> t.doubleValue }
    val keyOf = kept.map(e => e.event_id -> Gen.historyKey(e.channel, e.thread_ts)).toMap
    val repliesByKey = replies.toSeq.filter(r => keyOf.contains(r._1)).groupBy(r => keyOf(r._1))
      .map { case (k, rs) => k -> rs.sortBy(_._1).toArray }
    val deliveredAt: Long => Option[Double] = ev => repliesByKey.get(keyOf(ev)).flatMap { rs =>
      rs.find(_._1 >= ev).map(_._2)
    }
    def measured(d: Double, traced: Boolean): Boolean =
      d >= w0 && d < end && ctx.tracedSlice(sliceOf(d)) == traced
    val outs = ctx.classes.map { traced =>
      val recs = kept.collect { case e if measured(due.get(e.event_id), traced) =>
        (due.get(e.event_id).doubleValue, deliveredAt(e.event_id)) }
      // latency is per reply, from the due time of its last event
      val lat = replies.toSeq.collect { case (ev, t) if measured(due.get(ev), traced) =>
        t - due.get(ev) }.toArray
      val delivered = recs.flatMap(_._2)
      // open loop: from the window's start to its last delivery, so at a
      // sustainable rate it tracks the offered rate and drops when the
      // backlog grows; a traced run compares its interleaved slice classes
      val rps =
        if (ctx.args.trace) delivered.size * 1000.0 /
          ((0 until slices).count(k => ctx.tracedSlice(k) == traced) * SliceS * 1000)
        else if (delivered.isEmpty) 0.0
        else delivered.size * 1000.0 / (delivered.max - w0)
      outcome(recs, rps).copy(lat = lat)
    }

    // checks: every key's last prompt equals the model's last-100 context,
    // its reply is posted unless seeded to fail, and the sentinel count
    // equals the seeded permanent failures among the prompted events
    var bad = 0
    byKey.foreach { case (_, evs) =>
      val last = evs.maxBy(_.event_id)
      val seen = Llm.prompts.get(last.event_id)
      val want = Pipelines.modelPrompt(evs)
      if (seen != want) bad += 1
      else if (Gen.failureOf(ctx.args.seed, Llm.messageOf(want)) != 2 &&
               !replies.contains(last.event_id)) bad += 1
    }
    ctx.check(bad == 0, s"$bad of ${byKey.size} keys: last context or reply wrong")
    val seeded = Llm.prompts.asScala.count { case (_, p) => Gen.failureOf(ctx.args.seed, Llm.messageOf(p)) == 2 }
    ctx.check(Posts.sentinels.sum == seeded,
      s"${Posts.sentinels.sum} sentinel replies, generator seeded $seeded permanent failures")
    // with the checks above passing, an undelivered event is one whose
    // covering reply the generator seeded to fail permanently
    ctx.seededFailures = outs.map(o => o.records - o.delivered).sum
    if (ctx.args.trace) {
      Main.lateness(ctx, ticker.late.toSeq, (WarmS * 1000 / TickMs).toInt)
      ctx.layer("routing.kept_ratio") = kept.size.toDouble / sent.size
      ctx.layer("enrich.calls") = Llm.calls.sum.toDouble
      ctx.layer("enrich.retries") = Llm.failures.sum.toDouble
      ctx.layer("enrich.sentinels") = Posts.sentinels.sum.toDouble
      ctx.layer("enrich.client_ms") = Llm.clientNs.sum / 1e6 / math.max(1L, Llm.calls.sum)
      ctx.layer("enrich.useful_ratio") =
        (Llm.calls.sum - Llm.failures.sum).toDouble / math.max(1L, Llm.calls.sum)
    }
    outs
  }
}

/** Writes beside reads on the standing lexical and dedup indexes: each
  * cycle folds a batch of near-copies (and some re-delivered rows) in,
  * forgets a few ids, and probes both indexes. The lexical compaction
  * policy is set to fire on its own once per cycle, so every run
  * exercises the versioned compact/commit/GC path too. */
object IndexUpkeep extends Workload {
  val latencyLimitMs = 30000.0 // a fold is probe-visible within 30 s
  /** Generated in the shape of the sf0.1 `documents` table (see
    * [[Gen.corpusDoc]]), at 1500 of its 5000 rows so that the two index
    * builds keep set-up within the run's time budget. */
  val Corpus = 1500
  val Batch = 100
  val Forget = 3

  def run(ctx: Ctx): Seq[Outcome] = {
    val spark = ctx.spark
    import spark.implicits._
    spark.conf.set("spark.graft.lexCompactSegments", "1")
    val data = ctx.dir("data")
    (0 until Corpus).map(i => Gen.corpusDoc(ctx.args.seed, i, Corpus))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$data/documents.parquet")
    val lex = s"${ctx.work}/lex"
    val dd = s"${ctx.work}/dedup"
    val tLex = buildMs(TextAnalysis.buildLexIndex(spark, data, lex))
    val tDd = buildMs(Dedup.buildDedupIndex(spark, data, dd))
    var c = 0
    var admitted = 0L
    var refused = 0L
    /** One cycle; returns the ids it admitted. */
    def cycle(): Seq[Long] = {
      val cy = Gen.indexCycle(ctx.args.seed, c, Corpus, Batch, Forget)
      val batch = cy.docs.toDF("doc_id", "text")
      val (la, lr) = timed(ctx, "analysis.lex_merge")(TextAnalysis.mergeLexBatchIntoIndex(batch, lex, 2L * c))
      val (da, dr) = timed(ctx, "dedup.merge")(Dedup.mergeDedupBatchIntoIndex(batch, dd))
      val victims = cy.forget.toDF("doc_id")
      val fl = timed(ctx, "analysis.lex_forget")(TextAnalysis.forgetLexFromIndex(victims, lex, 2L * c + 1))
      val fd = timed(ctx, "dedup.forget")(Dedup.forgetDedupFromIndex(victims, dd))
      val lp = timed(ctx, "analysis.lex_probe")(TextAnalysis.lexIndexProbeStored(spark, data, lex).collect())
      val dp = timed(ctx, "dedup.probe")(Dedup.incrementalDedupStored(spark, data, dd).collect())
      ctx.check(la == cy.fresh && lr == cy.replayed,
        s"cycle $c lex merge admitted $la refused $lr, generator sent ${cy.fresh} fresh ${cy.replayed} replayed")
      ctx.check(da == cy.fresh && dr == cy.replayed,
        s"cycle $c dedup merge admitted $da refused $dr, generator sent ${cy.fresh} fresh ${cy.replayed} replayed")
      ctx.check(fl == cy.forget.size && fd == cy.forget.size,
        s"cycle $c forgot lex $fl dedup $fd of ${cy.forget.size}")
      ctx.check(lp.nonEmpty && dp.nonEmpty, s"cycle $c probe returned no rows")
      admitted += la + da
      refused += lr + dr
      c += 1
      cy.docs.take(cy.fresh).map(_._1)
    }
    ctx.setupEndMs = Clock.nowMs
    val cycles = mutable.ArrayBuffer[(Boolean, Seq[Long], Double, Double)]()
    val s = Clock.nowMs
    while (Clock.nowMs - s < ctx.args.seconds * 1000 || (ctx.args.trace && cycles.size < 4)) {
      val traced = ctx.tracedSlice(cycles.size)
      ctx.slice(traced)
      val t0 = Clock.nowMs
      val ids = cycle()
      System.err.println(f"[streambench] cycle ${c - 1} of ${ids.size} documents: ${Clock.nowMs - t0}%.0f ms")
      cycles += ((traced, ids, t0, Clock.nowMs))
    }
    ctx.endTrace()
    val outs = ctx.classes.map { traced =>
      val cs = cycles.filter(_._1 == traced)
      outcome(cs.flatMap { case (_, ids, t0, t1) => ids.map(_ => (t0, Some(t1))) }.toSeq,
        medianRate(cs.map(x => (x._2.size, x._4 - x._3)).toSeq))
    }
    if (ctx.args.trace) {
      ctx.layer("analysis.lex_build_ms") = tLex
      ctx.layer("dedup.build_ms") = tDd
      Seq("analysis.lex_merge", "analysis.lex_forget", "analysis.lex_probe",
          "dedup.merge", "dedup.forget", "dedup.probe").foreach { n =>
        ctx.layer(n + "_ms") =
          Stats.median(ctx.spans.named(n).map(_.ms))
      }
      ctx.layer("dedup.admit_ratio") = admitted.toDouble / math.max(1L, admitted + refused)
      ctx.layer("lifecycle.compactions") = (versions(lex) + versions(dd)).toDouble
      val ops = ctx.spans.named("analysis.") ++ ctx.spans.named("dedup.")
      ctx.layer("lifecycle.jobs_per_op") =
        ops.map(o => ctx.jobs.jobsIn(o.startMs, o.endMs)).sum.toDouble / math.max(1, ops.size)
      ctx.layer("lifecycle.driver_gap_ms") =
        ops.map(o => ctx.jobs.gapMs(o.startMs, o.endMs)).sum / math.max(1, ops.size)
    }
    outs
  }

  private def timed[T](ctx: Ctx, name: String)(body: => T): T = ctx.spans.time(name, name)(body)
  /** Builds run during set-up, before tracing starts: timed directly. */
  private def buildMs(body: => Long): Double = {
    val t0 = Clock.nowMs
    body
    Clock.nowMs - t0
  }

  /** Committed compactions: version directories are numbered from 2. */
  private def versions(path: String): Int = {
    val v = Paths.get(path, "versions")
    if (!Files.isDirectory(v)) 0
    else {
      val s = Files.list(v)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.matches("v\\d+"))
        .map(_.drop(1).toInt - 1).foldLeft(0)(math.max) finally s.close()
    }
  }
}
