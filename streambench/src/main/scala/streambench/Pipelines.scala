package streambench

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => SparkTrigger}

import graft.{Enrich, LineOps, PromptRequest, Routing, Serde}
import graft.streaming.{HistoryContext, HistoryMsg, StreamingOps}

/** The pipeline as written today, wired from its public functions. */
object Pipelines {
  val BlockBudget = 2900
  val HistoryLimit = 100

  /** Producer leg: raw emails → `producerTransform` → GraftLog segments,
    * one `writeBatchSegments` call per micro-batch (timed as the
    * `fb.producer` span). */
  def producer(raw: DataFrame, logDir: String, ckpt: String, trigger: SparkTrigger,
               spans: Spans): StreamingQuery =
    StreamingOps.producerTransform(raw).select("value")
      .writeStream.queryName("producer").outputMode("append")
      .option("checkpointLocation", ckpt).trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        spans.time("fb.producer", Traces.trace("producer")) {
          StreamingOps.writeBatchSegments(b, logDir, id)
        }
      }.start()

  /** Consumer leg over Avro `value` rows: decode, drop corrupt records,
    * hyperlink headings, Block Kit payload — shared by the stream and the
    * batch evaluation that checks it. */
  def payloads(values: DataFrame): DataFrame = {
    val decoded = values
      .select(Serde.fromAvroEmail(col("value")).as("email"))
      .filter(col("email").isNotNull)
      .select(col("email.seqno").as("seqno"), col("email.subject").as("subject"),
        col("email.body").as("body"))
      .withColumn("body_linked", LineOps.hyperlinkHeadingsHof("body"))
    StreamingOps.blockKitPayload(decoded, "seqno", "subject", "body_linked", BlockBudget)
  }

  /** Consumer leg: GraftLog source → [[payloads]] → `foreachBatchHttpSink`
    * into the counting client. */
  def consumer(spark: SparkSession, logDir: String, ckpt: String,
               trigger: SparkTrigger): StreamingQuery =
    StreamingOps.foreachBatchHttpSink(
        payloads(spark.readStream.format("graft.streaming.GraftLogSource").load(logDir)),
        () => Posts.client())
      .queryName("consumer").option("checkpointLocation", ckpt).trigger(trigger).start()

  /** The same functions in batch over the same records: the payload
    * digests the stream must have posted. */
  def expectedPayloads(spark: SparkSession, emails: Seq[Email], parts: Int): Set[String] = {
    import spark.implicits._
    val raw = emails.toDS().toDF().repartition(parts)
    payloads(StreamingOps.producerTransform(raw).select("value"))
      .select("payload").as[String].mapPartitions(_.map(Posts.digest))
      .collect().toSet
  }

  /** History key ↔ the key index the enrichment request carries, so a
    * reply can be addressed without re-reading the batch. */
  private val keyIndex =
    expr("cast(substr(substring_index(key, '/', 1), 2) as bigint) * 4 + " +
      "coalesce(cast(substring_index(nullif(substring_index(key, '/', -1), ''), '.', -1) as bigint), 0)")
  private val channelOfIndex = expr("concat('C', lpad(cast(id div 4 as string), 5, '0'))")
  private val threadOfIndex = expr(
    "CASE WHEN id % 4 = 0 THEN NULL ELSE format_string('17000%05d.%06d', id div 4, id % 4) END")

  /** The Slack-event leg's trigger interval. On back-to-back triggers a
    * batch's cost grew with its size, so latency amplified small changes
    * in per-row cost or host speed; on a fixed interval every batch holds
    * one interval of events and latency is the wait plus one batch. A
    * batch costs ~0.7 s, mostly the per-batch state commit: on a 1 s
    * interval a host running ~25 % slower pushed batches past the
    * interval, the backlog grew and p50 rose from ~0.9 s to over 4 s. */
  val TriggerMs = 2000L

  /** Slack-event leg: `dropBotMessages` → `rollingHistory` → (inside
    * foreachBatch, since enrichment needs a batch Dataset)
    * `enrichOnlineSafe` → `threadedReplyPayload` → the counting client. */
  def events(spark: SparkSession, raw: DataFrame, ckpt: String, cpus: Int,
             spans: Spans): StreamingQuery = {
    import spark.implicits._
    val msgs = Routing.dropBotMessages(raw).select(
      concat(col("channel"), lit("/"), coalesce(col("thread_ts"), lit(""))).as("key"),
      col("ts_ms").as("tsMs"), format_string("%010d", col("event_id")).as("id"),
      col("user"), col("text")).as[HistoryMsg]
    StreamingOps.rollingHistory(msgs, HistoryLimit)
      .writeStream.queryName("events").outputMode("update")
      .option("checkpointLocation", ckpt).trigger(SparkTrigger.ProcessingTime(TriggerMs))
      .foreachBatch { (b: Dataset[HistoryContext], batchId: Long) =>
        spans.time("fb.events", Traces.trace("events")) {
          val reqs = b.select(keyIndex.as("id"), col("context"),
            substring_index(col("context"), "\n", -1).as("message")).as[PromptRequest]
          val (replies, _) = Enrich.enrichOnlineSafe(reqs, () => Llm.client(), cpus)
          StreamingOps.threadedReplyPayload(
              replies.toDF().select(channelOfIndex.as("channel"), col("reply"),
                threadOfIndex.as("thread_ts")),
              "channel", "reply", "thread_ts")
            .foreachPartition { (it: Iterator[Row]) =>
              val post = Posts.client()
              it.foreach(r => post(batchId, r.getString(0)))
            }
        }
      }.start()
  }

  /** The pure-Scala model of `rollingHistory`: the last `k` messages of a
    * key by (ts, id), as the prompt the enrichment client must see. */
  def modelPrompt(kept: Seq[SlackEvent]): String = {
    val lines = kept.sortBy(e => (e.ts_ms, f"${e.event_id}%010d")).takeRight(HistoryLimit)
      .map(e => s"${e.user}: ${e.text}")
    Enrich.buildPrompt(lines.mkString("\n"), lines.last)
  }
}
