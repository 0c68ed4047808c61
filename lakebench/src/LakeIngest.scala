package lakebench

import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.sources.v2.GraftLog
import graft.streaming.Deliver
import Stats._

/** lake_ingest: drain a backlog of three 10x-reference flushes with
  * Trigger.AvailableNow through the production sink. The flush does nearly
  * all the work; no query runs. Each set-up round appends one flush's worth
  * (about 27.9 MB of wire payload) and the record cap admits exactly one
  * append per trigger, so every flush is the same size. Each drain replays
  * the same log into fresh lake, checkpoint, DLQ, backup and manifest dirs.
  */
final class LakeIngest(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  // 10x the reference's 2.79 MB flush, in wire (payload) bytes
  private val flushWire = if (ctx.tiny) 0.3e6 else 27.9e6
  private val log = s"${ctx.work}/ingest/log"
  private val gen = new CdcGen(ctx.seed)
  private val perBatch = 500
  private val interval = (perBatch * 165 / 0.39e6 * 1e6).toLong // arrival spacing at 0.39 MB/s
  private var nextBatch = 0
  private def batch(): Array[Rec] = {
    val b = gen.batch(perBatch, CdcGen.EpochUs + nextBatch * interval, nextBatch)
    nextBatch += 1
    b
  }
  private val first = batch()
  private val batchesPerFlush =
    math.max(1, math.ceil(flushWire / first.map(_.wireBytes).sum).toInt)
  private val flushes: Vector[Array[Rec]] = Vector.tabulate(rounds) { f =>
    (if (f == 0) first +: Vector.fill(batchesPerFlush - 1)(batch())
     else Vector.fill(batchesPerFlush)(batch())).flatten.toArray
  }
  if (ctx.corrupt == "order") {
    // swap the payloads of one key's first two valid records: its event
    // time then regresses in sequence order
    val (x, y) = flushes.head.filter(_.valid).groupBy(_.pk).values
      .find(_.length >= 2).map(v => (v(0), v(1))).get
    val f = flushes.head
    f(f.indexWhere(_ eq x)) = x.copy(data = y.data)
    f(f.indexWhere(_ eq y)) = y.copy(data = x.data)
  }
  private val recs = flushes.flatten
  private val truth = new Truth(recs)
  private val wireBytes = recs.map(_.wireBytes).sum.toDouble
  private val perFlush = flushes.head.length.toLong
  private var drainMs = Vector.empty[Double]
  private var flushMs = Vector.empty[Double]
  private var lakeBytes = 0.0
  private var drains = 0
  // the drain the per-layer metrics describe: the traced window's last one
  private var kept: Option[(Target, org.apache.spark.sql.streaming.StreamingQuery, Long, Long)] = None

  def setupRound(i: Int): Unit = {
    ctx.span("GraftLog.append")(GraftLog.append(Lake.frame(spark, flushes(i).toSeq), log))
    if (i == rounds - 1 && ctx.corrupt == "dup_segment") {
      // a producer retry republishes a shard's first segment past its
      // high-water mark: the same records again, under a fresh range
      val fs = Lake.fs(spark, log)
      val segs = GraftLog.listSegments(fs, log).toSeq.sortBy(_._1).head._2
      val seg = segs.head
      val first = segs.map(_.lastSeq.toLong).max + 1
      val src = new HPath(seg.path)
      FileUtil.copy(fs, src, fs, new HPath(src.getParent, f"seg-$first%030d-${first + seg.count - 1}%030d-" +
        s"${seg.count}-${seg.bytes}-${java.util.UUID.randomUUID()}.log"),
        false, spark.sessionState.newHadoopConf())
    }
  }

  /** One full-size flush of the log into a scratch target on `sess`, so
    * the first timed flush does not pay the path's warm-up: the first
    * trigger of a ProcessingTime query whose next trigger is an hour away.
    */
  private def warmOn(sess: SparkSession): Unit = {
    val t = Target(s"${ctx.work}/ingest/warm")
    val q = Lake.startDeliver(sess, log, t, Trigger.ProcessingTime("1 hour"),
      maxRecordsPerTrigger = Some(perFlush))
    while (q.isActive && !q.recentProgress.exists(_.numInputRows > 0)) Thread.sleep(20)
    q.exception.foreach(e => throw e)
    q.stop()
    Lake.rm(sess, t.root)
  }

  override def warm(): Unit = warmOn(spark)

  private def drain(t: Target, sess: SparkSession): (org.apache.spark.sql.streaming.StreamingQuery, Double, Long, Long) = {
    val wall0 = System.currentTimeMillis()
    val (q, ms) = timeMs(ctx.span("Deliver.start+AvailableNow") {
      val q = Lake.startDeliver(sess, log, t, Trigger.AvailableNow(),
        maxRecordsPerTrigger = Some(perFlush))
      q.awaitTermination()
      q
    })
    (q, ms, wall0, System.currentTimeMillis())
  }

  def window(out: Outcome): Map[String, Double] = {
    val ms0 = drainMs.size
    val fs0 = flushMs.size
    var spent = 0.0
    // another drain only while it is predicted to end within the run length
    while (drainMs.size == ms0 || spent + drainMs.last <= ctx.seconds * 1000) {
      drains += 1
      val t = Target(s"${ctx.work}/ingest/drain-$drains")
      val (q, ms, w0, w1) = drain(t, spark)
      out.attempted += 1 + q.recentProgress.length
      spent += ms
      drainMs :+= ms
      flushMs ++= q.recentProgress.filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").doubleValue)
      if (ctx.corrupt == "lake_file") Lake.deleteOneLakeFile(spark, t)
      if (ctx.corrupt == "drop_dlq") Lake.rm(spark, t.dlq)
      if (ctx.corrupt == "manifest_entry") Lake.dropOneManifestEntry(spark, t)
      Lake.checkDelivery(spark, t, truth, s"drain $drains")
      if (lakeBytes == 0.0) lakeBytes = Lake.lakeFileBytes(spark, t).sum.toDouble
      if (ctx.tracer.on || kept.isEmpty) {
        kept.foreach(k => Lake.rm(spark, k._1.root))
        kept = Some((t, q, w0, w1))
      } else Lake.rm(spark, t.root)
    }
    val mine = drainMs.drop(ms0)
    val fl = flushMs.drop(fs0)
    out.report += f"lake_ingest: ingest_mb_s=${wireBytes / 1e6 * mine.size / (mine.sum / 1000)}%.2f " +
      f"lake_bytes_per_wire_byte=${lakeBytes / wireBytes}%.4f records=${recs.size} " +
      f"wire_mb=${wireBytes / 1e6}%.1f " + show("drain_ms", mine) + " " + show("flush_ms", fl)
    out.layer("stored_bytes_ratio") = lakeBytes / wireBytes
    Map(
      "p50_ms" -> median(fl),
      "throughput_per_s" -> recs.size * mine.size / (mine.sum / 1000),
      "recall" -> 1.0) // checkDelivery matched every valid record, each once
  }

  def check(out: Outcome): Unit = () // every drain is checked as it lands

  def layers(out: Outcome): Unit = {
    val (t, q, w0, w1) = kept.get
    val ps = StreamLayers.progressOf(ctx, q)
    StreamLayers.fill(ctx, out, ps)
    StreamLayers.files(ctx, out, t, ps.count(_.numInputRows > 0))
    StreamLayers.metadata(ctx, out, t)
    StreamLayers.log(ctx, out, log)
    out.layer("GraftLogSource.records_behind") = StreamLayers.recordsBehind(ctx, q, log).toDouble
    out.layer("GraftLogSource.ms_behind") = 0.0 // AvailableNow ends at the snapshot
    val stamps = ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
    out.layer("microbatch.start_ms") = (stamps.min - w0).toDouble
    out.layer("microbatch.stop_ms") = (w1 - ps.map(p => java.time.Instant.parse(p.timestamp)
      .toEpochMilli + p.durationMs.get("triggerExecution").longValue).max).toDouble
    // decode alone: the backlog's transform into a no-op sink
    val (_, decMs) = timeMs(ctx.span("Envelope.decode") {
      Deliver.transform(spark.read.format("graftlog").load(log), Lake.PayloadSchema, None)
        .write.format("noop").mode("overwrite").save()
    })
    out.layer("Envelope.decode_ms_per_mb") = decMs / (wireBytes / 1e6)
    // the lake's query mix over the drained lake: the SQL and catalog layers
    val mix = new QueryMix(ctx, truth, 1, gen.keys)
    mix.register(t)
    (1 to 3).foreach(_ => mix.cycle(out))
    mix.layers(out, t)
    // the same drain on one core, after the same warm-up flush
    val n = median(drainMs)
    spark.stop()
    val one = Main.session(1)
    warmOn(one)
    val (_, ms1, _, _) = drain(Target(s"${ctx.work}/ingest/drain-1core"), one)
    out.layer("Deliver.speedup_vs_1core") = ms1 / n
  }
}
