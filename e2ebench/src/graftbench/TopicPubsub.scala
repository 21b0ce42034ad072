package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.log.{AckLog, Admin, TopicLog, Txn}
import graft.model.{Envelope, TopicName}
import graft.operators.{Compaction, Dedup, Dispatch}
import graft.streaming.{Subscription, SubscriptionType}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Pulsar surface, closed loop. A round: one producer appends a
  * round of keyed messages (some resent with an old sequence id) across
  * the partitions, through a `Txn` on every `TxnEvery`-th round; the
  * subscription drains them; the consumer acks them and applies
  * `Dedup.dedupAppend`. A cycle is `RoundsPerCycle` rounds and then the
  * admin and operator verbs: compaction, TableView, DLQ routing,
  * retention trim and ack compaction. */
object TopicPubsub {
  /** Spark runs at local[1]. A round's stages are one to four tasks of
    * a few milliseconds, so more cores add only thread hand-offs, and
    * at local[4] those made runs of the same work differ by a quarter. */
  val Cores = 1
  val Partitions = 4
  /** Producers, keys, key skew and resend share follow the repo's
    * message fixtures: `events` at sf0.01 has 150 user keys whose
    * counts fit a Zipf exponent of 0.12, and the `dedup-seq` fixture
    * maps them to 4 producers and resends every 10th message. */
  val Producers = 4
  val Keys = 150
  val KeySkew = 0.12
  val MsgsPerRound = 200
  val ResendShare = 0.10
  val TombstoneShare = 0.03
  val RoundsPerCycle = 3
  val TxnEvery = 4
  val MaxRedeliver = 3
  val KeepRounds = 6
  /** Logical publish-time step per round (retention works on it). */
  val RoundMs = 1000L
  val BaseMs = 1700000000000L
}

/** One generated message; `stamp` is the creation instant. */
final case class Msg(key: String, value: Option[String],
                     producer: Int, seq: Long, redelivery: Int, stamp: Timestamp)

final class TopicPubsub(ctx: Ctx, tag: String) extends Workload {
  import TopicPubsub._
  import ctx.spark

  private val schema = StructType(Seq(
    StructField(Envelope.Partition, IntegerType),
    StructField(Envelope.Key, StringType),
    StructField(Envelope.Value, BinaryType),
    StructField(Envelope.ProducerName, StringType),
    StructField(Envelope.SequenceId, LongType),
    StructField(Envelope.PublishTime, TimestampType),
    StructField(Envelope.EventTime, TimestampType),
    StructField(Envelope.RedeliveryCnt, IntegerType)))
  private val stateSchema = StructType(Seq(
    StructField(Envelope.ProducerName, StringType),
    StructField("highest_sequence_pushed", LongType)))

  // per-setup state
  private var rnd: scala.util.Random = _
  private var keyCdf: Array[Double] = _
  private var root: String = _
  private var log: TopicLog = _
  private var acks: AckLog = _
  private var sub: Subscription = _
  private var round = 0
  private val seqs = mutable.Map[Int, Long]()
  private val recent = mutable.Map[Int, mutable.Queue[Msg]]()
  /** every appended message, by round (the reference model's input) */
  private val appended = mutable.ArrayBuffer[Seq[Msg]]()
  private val dedupState = mutable.Map[String, Long]()
  private val modelState = mutable.Map[String, Long]()
  private var acksSinceCompact = 0L
  /** rounds the subscription has drained */
  private var consumed = 0
  private var delivered = mutable.ArrayBuffer[(Row, Long)]()
  private var consumeBatches = 0L
  private var dedupDropped = 0L

  def setup(): Unit = {
    rnd = new scala.util.Random(ctx.seed)
    keyCdf = {
      val w = (1 to Keys).map(r => 1.0 / math.pow(r, KeySkew))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    round = 0
    consumed = 0
    seqs.clear(); recent.clear(); appended.clear()
    dedupState.clear(); modelState.clear(); acksSinceCompact = 0L
    root = ctx.dir(tag)
    log = new TopicLog(spark, root, TopicName.parse("bench"), Partitions)
    acks = new AckLog(spark, log.name.path(root), "sub")
    // the first round makes the topic (the subscription reads its
    // schema); the first cycle's drain delivers it
    produce(new Rec)
    sub = new Subscription(log, "sub", SubscriptionType.Exclusive, s"$root/_cursors")
  }

  private def gen(): Seq[Msg] = {
    val stamp = Timestamp.from(java.time.Instant.now())
    val out = mutable.ArrayBuffer[Msg]()
    while (out.size < MsgsPerRound) {
      val k = java.util.Arrays.binarySearch(keyCdf, rnd.nextDouble()) match {
        case i if i >= 0 => i
        case i => math.min(-i - 1, Keys - 1)
      }
      val producer = k % Producers
      val q = recent.getOrElseUpdate(producer, mutable.Queue[Msg]())
      val m =
        if (q.nonEmpty && rnd.nextDouble() < ResendShare) q(rnd.nextInt(q.size)).copy(stamp = stamp)
        else {
          val s = seqs.getOrElse(producer, 0L) + 1
          seqs(producer) = s
          val m = Msg(s"k$k",
            if (rnd.nextDouble() < TombstoneShare) None else Some(s"v$round-${out.size}"),
            producer, s, rnd.nextInt(MaxRedeliver + 2), stamp)
          q.enqueue(m)
          if (q.size > 20) q.dequeue()
          m
        }
      out += m
    }
    out.toSeq
  }

  private def publishTime(r: Int) = new Timestamp(BaseMs + r * RoundMs)

  private def toDf(ms: Seq[Msg]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ms.map { m =>
      Row(m.producer % Partitions, m.key, m.value.map(_.getBytes("UTF-8")).orNull,
        s"p${m.producer}", m.seq, publishTime(round), m.stamp, m.redelivery)
    }, 1), schema)

  private def produce(rec: Rec): Unit = {
    val ms = gen()
    val df = toDf(ms)
    val n =
      // rounds 3, 7, 11, ...: one in the warm-up, one in the window
      // (the first round of its second cycle, the traced one)
      if (round % TxnEvery == 3) ctx.span("log.txn") {
        Txn.begin(root).produce(log, df).commit()
        ms.size.toLong
      }
      else ctx.span("log.append")(log.append(df))
    appended += ms
    rec.check(n == ms.size, s"round $round appended $n of ${ms.size}")
  }

  /** Drains the subscription, then acks and dedups what it delivered. */
  private def consumeAckDedup(rec: Rec): Unit = {
    delivered = mutable.ArrayBuffer[(Row, Long)]()
    ctx.span("streaming.consume") {
      sub.consume { (batch, _) =>
        val rows = batch.select(Envelope.Partition, Envelope.Offset,
          Envelope.ProducerName, Envelope.SequenceId, Envelope.Key,
          Envelope.EventTime).collect()
        val at = Timestamp.from(java.time.Instant.now())
        val atUs = at.getTime * 1000 + (at.getNanos / 1000) % 1000
        rows.foreach(r => delivered += (r -> atUs))
        if (ctx.tracer.enabled) consumeBatches += 1
      }.awaitTermination()
    }
    val sent = appended.drop(consumed).flatten
    consumed = appended.size
    val got = delivered.map(_._1)
    def sig(p: String, s: Long, k: String) = s"$p/$s/$k"
    rec.check(got.map(r => sig(r.getString(2), r.getLong(3), r.getString(4))).sorted ==
      sent.map(m => sig(s"p${m.producer}", m.seq, m.key)).sorted,
      s"round $round delivered ${got.size} of ${sent.size}")
    delivered.foreach { case (r, atUs) =>
      val ts = r.getTimestamp(5)
      val createdUs = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
      rec.samples += (atUs - createdUs) / 1000.0
    }
    rec.items += got.size

    val positions = spark.createDataFrame(spark.sparkContext.parallelize(
      got.map(r => Row(r.getInt(0), r.getLong(1))).toSeq, 1), acks.schema)
    val nAck = ctx.span("log.ack")(acks.ack(positions))
    acksSinceCompact += got.size
    rec.check(nAck == got.size, s"round $round acked $nAck of ${got.size}")

    val batchDf = spark.createDataFrame(spark.sparkContext.parallelize(
      got.map(r => Row(r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq, 1),
      StructType(Seq(StructField(Envelope.Partition, IntegerType),
        StructField(Envelope.Offset, LongType),
        StructField(Envelope.ProducerName, StringType),
        StructField(Envelope.SequenceId, LongType))))
    val stateDf = spark.createDataFrame(spark.sparkContext.parallelize(
      dedupState.toSeq.map { case (p, s) => Row(p, s) }, 1), stateSchema)
    val kept = ctx.span("operators.dedup") {
      Dedup.dedupAppend(batchDf, stateDf)
        .select(Envelope.ProducerName, Envelope.SequenceId).collect()
        .map(r => r.getString(0) -> r.getLong(1))
    }
    kept.groupBy(_._1).foreach { case (p, xs) =>
      dedupState(p) = math.max(dedupState.getOrElse(p, 0L), xs.map(_._2).max)
    }
    if (ctx.tracer.enabled) dedupDropped += got.size - kept.length
    // model: per producer, the distinct sequence ids above its high-water
    val want = sent.groupBy(m => s"p${m.producer}").toSeq.flatMap { case (p, ms) =>
      val hw = modelState.getOrElse(p, 0L)
      val fresh = ms.map(_.seq).filter(_ > hw).distinct
      if (fresh.nonEmpty) modelState(p) = fresh.max
      fresh.map(p -> _)
    }
    rec.check(kept.toSeq.sorted == want.sorted,
      s"round $round dedup kept ${kept.length}, model ${want.size}")
  }

  def cycle(k: Int, rec: Rec): Unit = {
    (0 until RoundsPerCycle).foreach { _ =>
      round += 1
      val t0 = System.nanoTime()
      ctx.span("round") { produce(rec); consumeAckDedup(rec) }
      rec.busyNs += System.nanoTime() - t0
    }
    val t0 = System.nanoTime()
    ctx.span("admin")(admin(rec))
    val ns = System.nanoTime() - t0
    rec.busyNs += ns
    rec.fold += ns / 1e6
  }

  private def admin(rec: Rec): Unit = {
    val hw = log.highWater()
    val horizon = ctx.span("operators.compaction")(Compaction.triggerCompaction(log))
    rec.check(horizon == hw, s"compaction horizon $horizon, high-water $hw")

    val retained = appended.zipWithIndex.filter(_._2 > round - KeepRounds)
      .flatMap { case (ms, r) => ms.map(r -> _) }
    // retention first so every later verb sees the trimmed log
    ctx.span("log.admin")(Admin.retentionTrim(log, BaseMs + round * RoundMs,
      KeepRounds * RoundMs - RoundMs / 2))
    val n = ctx.span("log.read")(log.read().count())
    rec.check(n == retained.size, s"retained $n messages, model ${retained.size}")

    val view = ctx.span("operators.tableview") {
      Compaction.tableView(log.read()).collect()
        .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    }
    val wantView = retained.groupBy(_._2.key).flatMap { case (key, ms) =>
      ms.maxBy { case (r, m) => (r, m.seq) }._2.value.map(key -> _)
    }
    rec.check(view == wantView, s"tableview ${view.size} keys, model ${wantView.size}")

    val cycleFrom = round - RoundsPerCycle + 1
    val dlq = ctx.span("operators.dispatch") {
      Dispatch.dlqRoute(log.read().filter(col(Envelope.PublishTime) >= publishTime(cycleFrom)),
        "sub", MaxRedeliver)
        .filter(col("route_topic").endsWith("-sub-DLQ")).count()
    }
    val wantDlq = appended.drop(cycleFrom).flatten.count(_.redelivery >= MaxRedeliver)
    rec.check(dlq == wantDlq, s"dlq routed $dlq, model $wantDlq")

    val dropped = ctx.span("log.ack_compact")(acks.compact())
    rec.check(dropped == acksSinceCompact,
      s"ack compaction dropped $dropped, acked $acksSinceCompact")
    acksSinceCompact = 0L
  }

  def verify(rec: Rec): Unit = ()

  def layers(attr: Attribution, cycles: Seq[Span]): Map[String, Double] = {
    val std = Seq("ms_p50", "jobs", "driver_ms", "files_created")
    Seq("append", "read", "ack", "txn", "ack_compact", "admin").flatMap(v =>
      Layers.call(attr, Layers.named(ctx, s"log.$v"), s"log.$v", std)).toMap ++
    Layers.call(attr, Layers.named(ctx, "streaming.consume"), "streaming.consume",
      Seq("ms_p50", "jobs", "driver_ms")) ++
    Seq("dedup", "compaction", "tableview", "dispatch").flatMap(v =>
      Layers.call(attr, Layers.named(ctx, s"operators.$v"), s"operators.$v",
        Seq("ms_p50", "jobs"))).toMap ++
    Map("streaming.consume.batches" -> consumeBatches.toDouble /
        math.max(1, Layers.named(ctx, "streaming.consume").size),
      "operators.dedup.dropped" -> dedupDropped.toDouble)
  }

  override def details: Map[String, Any] = Map(
    "loop" -> "closed: one round in flight, one producer, one subscription",
    "partitions" -> Partitions, "producers" -> Producers, "keys" -> Keys,
    "key_skew_zipf_s" -> KeySkew, "msgs_per_round" -> MsgsPerRound,
    "resend_share" -> ResendShare, "tombstone_share" -> TombstoneShare,
    "rounds_per_cycle" -> RoundsPerCycle, "txn_every" -> TxnEvery,
    "rounds" -> round)

  def close(): Unit = ()
}
