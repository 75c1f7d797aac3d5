package streambench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's one clock: milliseconds since this JVM loaded the
  * object, from the monotonic timer. Executors run in this JVM
  * (`local[n]`), so the generator, the sinks and the listeners share it. */
object Clock {
  private val base = System.nanoTime()
  private val epochBase = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - base) / 1e6
  /** Spark event times are epoch milliseconds; map them onto [[nowMs]]. */
  def fromEpochMs(t: Long): Double = (t - epochBase).toDouble
}

/** A traced interval. `trace` groups the spans of one trigger or one
  * lifecycle call; `parent` names the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spans kept in memory and written out when the run ends. Off, or
  * outside a traced slice, it records nothing and costs one branch. */
final class Spans(val on: Boolean) {
  private val ids = new AtomicLong(0)
  val all = new ConcurrentLinkedQueue[Span]()
  /** Whether the current slice of the run is traced. */
  @volatile var active = false
  def recording: Boolean = on && active

  /** `recorded`: the caller already knows the span is in a traced slice
    * (listener events, client spans collected during one). */
  def add(parent: Long, trace: String, name: String, s: Double, e: Double,
          recorded: Boolean = false): Long =
    if (!(on && (active || recorded))) 0L else {
      val id = ids.incrementAndGet()
      all.add(Span(id, parent, trace, name, s, e))
      id
    }

  def time[T](name: String, trace: String)(body: => T): T = {
    val s = Clock.nowMs
    try body finally add(0L, trace, name, s, Clock.nowMs)
  }

  def named(prefix: String): Seq[Span] = all.asScala.filter(_.name.startsWith(prefix)).toSeq

  /** Parents the spans recorded apart from the progress events onto their
    * trigger (same trace id): a foreachBatch body under the addBatch
    * phase, Spark jobs and client calls under the body, or under addBatch
    * when the sink is the program's own `foreachBatch`. */
  def link(): Unit = {
    val byTrace = all.asScala.toSeq.groupBy(_.trace)
    val linked = all.asScala.toSeq.map { sp =>
      if (sp.parent != 0L || !sp.trace.contains('#') || sp.name.startsWith("trigger.")) sp
      else {
        val q = sp.trace.takeWhile(_ != '@')
        val mates = byTrace(sp.trace)
        def find(n: String) = mates.find(_.name == n).map(_.id)
        val parent =
          if (sp.name.startsWith("fb.")) find(s"phase.$q.addBatch")
          else find(s"fb.$q").orElse(find(s"phase.$q.addBatch"))
        parent.fold(sp)(p => sp.copy(parent = p))
      }
    }
    all.clear()
    all.addAll(linked.asJava)
  }

  def dump(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.asScala.foreach { sp =>
      w.write(f"""{"id":${sp.id},"parent":${sp.parent},"trace":"${sp.trace}","name":"${sp.name}","start_ms":${sp.startMs}%.3f,"end_ms":${sp.endMs}%.3f}""")
      w.newLine()
    } finally w.close()
  }

  /** Self time of each span: its duration minus the union of its direct
    * children's intervals (clipped to the span). */
  def selfTimes(): Map[Long, Double] = {
    val kids = all.asScala.groupBy(_.parent)
    all.asScala.map { sp =>
      val iv = kids.getOrElse(sp.id, Nil).map(k => (math.max(k.startMs, sp.startMs),
        math.min(k.endMs, sp.endMs))).filter(x => x._2 > x._1)
      sp.id -> (sp.ms - Stats.covered(iv))
    }.toMap
  }
}

/** Spark scheduler counters plus one span per job, parented to its
  * streaming trigger through the query/batch local properties that
  * micro-batch execution sets on every job it runs. */
final class JobProbe(spans: Spans) extends SparkListener {
  val jobs = new LongAdder; val stages = new LongAdder; val tasks = new LongAdder
  val taskMs = new LongAdder; val gcMs = new LongAdder
  val shuffleRead = new LongAdder; val shuffleWrite = new LongAdder
  val spill = new LongAdder
  private val open = new ConcurrentHashMap[Int, (Double, String)]()
  /** (start, end) of every finished job, for driver-gap accounting. */
  val intervals = new ConcurrentLinkedQueue[(Double, Double)]()
  /** query name by query id, filled by [[QueryProbe]]. */
  val queryNames = new ConcurrentHashMap[String, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val q = Option(p).flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
    val b = Option(p).flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
    val trace = (q, b) match {
      case (Some(qid), Some(bid)) => Traces.key(queryNames.getOrDefault(qid, qid), qid, bid)
      case _ => ""
    }
    open.put(e.jobId, (Clock.fromEpochMs(e.time), trace))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.increment()
    val (s, trace) = Option(open.remove(e.jobId)).getOrElse((Clock.fromEpochMs(e.time), ""))
    val end = Clock.fromEpochMs(e.time)
    intervals.add((s, end))
    spans.add(0L, trace, "spark.job", s, end, recorded = true)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.increment()
    tasks.add(i.numTasks)
    Option(i.taskMetrics).foreach { m =>
      taskMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wall time in [s, e] during which no job ran. */
  def gapMs(s: Double, e: Double): Double =
    (e - s) - Stats.covered(intervals.asScala.map(x => (math.max(x._1, s), math.min(x._2, e)))
      .filter(x => x._2 > x._1))

  def jobsIn(s: Double, e: Double): Int =
    intervals.asScala.count(x => x._1 >= s && x._2 <= e)
}

/** One executed micro-batch, from its progress event. */
final case class Trigger(query: String, trace: String, startMs: Double, wallMs: Double,
                         parts: Map[String, Long], rows: Long, stateRows: Long,
                         stateMem: Long, stateCommitMs: Long, stateUpdateMs: Long,
                         stateUpdated: Long)

/** Streaming progress: one [[Trigger]] per executed batch, a trigger span
  * per batch with one child span per `durationMs` phase, laid end to end
  * in the order micro-batch execution runs them: offsets and the offset
  * log write while constructing the batch, then getBatch, planning and
  * the sink, then the commit log. */
final class QueryProbe(spans: Spans, jobs: JobProbe) extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Option(e.name).foreach(n => jobs.queryNames.put(e.id.toString, n))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (d.contains("addBatch")) {
      val start = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val wall = d.getOrElse("triggerExecution", 0L)
      val st = p.stateOperators.headOption
      val trace = Traces.key(p.name, p.id.toString, p.batchId.toString)
      val t = Trigger(p.name, trace, start, wall.toDouble, d, p.numInputRows,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L), st.map(_.allUpdatesTimeMs).getOrElse(0L),
        st.map(_.numRowsUpdated).getOrElse(0L))
      triggers.add(t)
      val root = spans.add(0L, trace, s"trigger.${p.name}", start, start + wall, recorded = true)
      var at = start
      order.foreach { k =>
        d.get(k).filter(_ > 0).foreach { v =>
          spans.add(root, trace, s"phase.${p.name}.$k", at, at + v, recorded = true)
          at += v
        }
      }
    }
  }
}

/** The counting in-process HTTP sink behind `foreachBatchHttpSink`: it
  * stands in for the Slack webhook and records what was posted and
  * when. Shared by every task of the run (tasks run in this JVM). */
object Posts {
  val first = new ConcurrentHashMap[java.lang.Long, java.lang.Double]() // record id -> first post
  val payloads = ConcurrentHashMap.newKeySet[String]() // payload digests
  val posts = new LongAdder; val dups = new LongAdder; val bytes = new LongAdder
  val clientNs = new LongAdder
  @volatile var spans: Spans = new Spans(false)
  @volatile var query: String = ""
  @volatile var idOf: String => Long = _ => -1L
  @volatile var sentinel: String = "\u0000"
  val sentinels = new LongAdder

  def reset(sp: Spans, q: String, id: String => Long, sentinelText: String = "\u0000"): Unit = {
    first.clear(); payloads.clear(); posts.reset(); dups.reset(); bytes.reset()
    clientNs.reset(); sentinels.reset(); spans = sp; query = q; idOf = id; sentinel = sentinelText
  }

  def digest(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.util.HexFormat.of().formatHex(md.digest(s.getBytes("UTF-8")))
  }

  /** The sink's client factory: one client per partition; the partition's
    * posting time becomes one `client.sink` span. */
  def client(): (Long, String) => Unit = {
    val opened = Clock.nowMs
    val sp = spans
    val trace = Traces.trace(query)
    (_: Long, payload: String) => {
      val t0 = System.nanoTime()
      val now = Clock.nowMs
      if (payload.contains("\"text\":\"" + sentinel + "\"")) sentinels.increment()
      val id = idOf(payload)
      if (id >= 0 && first.putIfAbsent(id, now) != null) dups.increment()
      payloads.add(digest(payload))
      posts.increment()
      bytes.add(payload.length)
      clientNs.add(System.nanoTime() - t0)
      if (sp.recording) Traces.touch("client.sink", trace, opened)
    }
  }
}

/** Client calls aggregated per partition: one span per client, from its
  * creation to its last call, traced to the micro-batch of its task. */
object Traces {
  private val open = new ConcurrentHashMap[(String, String, Double, Long), Array[Double]]()

  /** The trace id of one micro-batch: query name, query id, batch id. */
  def key(query: String, queryId: String, batchId: String): String =
    s"$query@${queryId.take(8)}#$batchId"

  /** The trace id of the micro-batch a task or a foreachBatch body runs
    * for, from the local properties micro-batch execution sets. */
  def trace(query: String): String = {
    val props: String => String = Option(org.apache.spark.TaskContext.get()) match {
      case Some(tc) => tc.getLocalProperty
      case None => org.apache.spark.SparkContext.getOrCreate().getLocalProperty
    }
    (Option(props("sql.streaming.queryId")), Option(props("streaming.sql.batchId"))) match {
      case (Some(q), Some(b)) => key(query, q, b)
      case _ => ""
    }
  }

  def touch(name: String, trace: String, opened: Double): Unit =
    open.computeIfAbsent((name, trace, opened, Thread.currentThread().getId),
      _ => Array(opened, opened))(1) = Clock.nowMs

  /** Add the collected client spans (recorded during traced slices). */
  def flush(sp: Spans): Unit = {
    open.asScala.foreach { case ((name, trace, _, _), v) =>
      sp.add(0L, trace, name, v(0), v(1), recorded = true)
    }
    open.clear()
  }
}

/** The deterministic enrichment client: answers with a digest of the
  * prompt after the prompt's seeded failures (transient failures fail
  * the first attempt only, permanent ones every attempt). Records the
  * last prompt seen for every event id so the run can check contexts. */
object Llm {
  val calls = new LongAdder; val failures = new LongAdder
  val clientNs = new LongAdder
  val prompts = new ConcurrentHashMap[Long, String]()   // event id -> prompt
  private val attempts = new ConcurrentHashMap[Long, Integer]()
  @volatile var seed: Long = 0L
  @volatile var spans: Spans = new Spans(false)

  def reset(sd: Long, sp: Spans): Unit = {
    calls.reset(); failures.reset(); clientNs.reset()
    prompts.clear(); attempts.clear(); seed = sd; spans = sp
  }

  private val EventTok = "ev(\\d{10})".r

  /** The user message is the prompt's `User message:` line. */
  def messageOf(prompt: String): String = {
    val i = prompt.lastIndexOf("User message: ")
    val j = prompt.indexOf('\n', i)
    prompt.substring(i + 14, if (j < 0) prompt.length else j)
  }
  def eventOf(text: String): Long =
    EventTok.findFirstMatchIn(text).map(_.group(1).toLong).getOrElse(-1L)

  def client(): String => String = {
    val opened = Clock.nowMs
    val sp = spans
    val trace = Traces.trace("events")
    (prompt: String) => {
      val t0 = System.nanoTime()
      calls.increment()
      val msg = messageOf(prompt)
      val ev = eventOf(msg)
      prompts.put(ev, prompt)
      val plan = Gen.failureOf(seed, msg)
      val n = attempts.merge(ev, 1, (a, b) => a + b)
      val out = if (plan == 2 || (plan == 1 && n == 1)) null else replyOf(ev, prompt)
      clientNs.add(System.nanoTime() - t0)
      if (sp.recording) Traces.touch("client.enrich", trace, opened)
      if (out == null) { failures.increment(); throw new java.io.IOException("seeded failure") }
      out
    }
  }

  /** The reply the client gives a prompt that it answers. */
  def replyOf(ev: Long, prompt: String): String = f"ev$ev%010d ok ${Posts.digest(prompt).take(12)}"
}
