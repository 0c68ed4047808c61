package lakebench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.sources.{ManifestReader, ZoneMaps}
import graft.sources.v2.GraftLog

/** What one run shares with its workload. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, tiny: Boolean,
    corrupt: String, work: String, tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** Counts and metrics a workload hands back to the runner. */
final class Outcome {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val report = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
}

/** A workload: `rounds` set-up rounds (setup_s is their median), a timed
  * window that may run more than once (a traced run runs it untraced,
  * traced, untraced), the correctness checks, and the per-layer figures of
  * the traced window.
  */
trait Workload {
  def rounds: Int = 3
  def setupRound(i: Int): Unit
  /** Untimed: run the measured path once so the window starts warm. */
  def warm(): Unit = ()
  /** Measure for the run length; returns the end-to-end metrics. */
  def window(out: Outcome): Map[String, Double]
  def check(out: Outcome): Unit
  def layers(out: Outcome): Unit
}

object Stats {
  /** Linear-interpolated percentile, as numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }
  /** "name p50=412.3 p95=530.0 n=40": the sample count is always shown. */
  def show(name: String, xs: Seq[Double]): String =
    if (xs.isEmpty) s"$name n=0"
    else f"$name p50=${median(xs)}%.1f p95=${pct(xs, 95)}%.1f n=${xs.size}"
}

/** Layer figures shared by the workloads that deliver through a stream. */
object StreamLayers {
  import Stats._

  def progressOf(ctx: Ctx, q: StreamingQuery): Seq[StreamingQueryProgress] = {
    import scala.jdk.CollectionConverters._
    ctx.tracer.drainBus()
    ctx.tracer.progress.asScala.filter(_.id == q.id).toVector
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** microbatch.*, GraftLogSource.* phases and Deliver.* flush work. */
  def fill(ctx: Ctx, out: Outcome, ps: Seq[StreamingQueryProgress]): Unit = {
    val full = ps.filter(_.numInputRows > 0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    val L = out.layer
    L("GraftLogSource.latest_offset_ms") = med(ps.map(dur(_, "latestOffset")))
    L("GraftLogSource.get_batch_ms") = med(full.map(dur(_, "getBatch")))
    L("microbatch.wal_commit_ms") = med(full.map(dur(_, "walCommit")))
    L("microbatch.commit_offsets_ms") = med(full.map(dur(_, "commitOffsets")))
    L("microbatch.query_planning_ms") = med(full.map(dur(_, "queryPlanning")))
    L("microbatch.trigger_ms") = med(full.map(dur(_, "triggerExecution")))
    val add = full.map(dur(_, "addBatch")).sum
    val trig = full.map(dur(_, "triggerExecution")).sum
    L("microbatch.overhead_share") = if (trig > 0) 1 - add / trig else 0.0
    L("microbatch.triggers") = ps.size.toDouble
    L("microbatch.empty_triggers") = (ps.size - full.size).toDouble
    L("Deliver.add_batch_ms") = med(full.map(dur(_, "addBatch")))
    val works = full.flatMap(p =>
      Option(ctx.tracer.flushWork.get((p.id.toString, p.batchId))).map(w => (p, w)))
    L("Deliver.jobs_per_flush") = med(works.map(_._2.jobs.toDouble))
    L("Deliver.tasks_per_flush") = med(works.map(_._2.tasks.toDouble))
    L("Deliver.task_ms_per_flush") = med(works.map(_._2.taskMs.toDouble))
    L("Deliver.cpu_ms_per_flush") = med(works.map(_._2.cpuMs))
    L("Deliver.parallelism") = med(works.map { case (p, w) =>
      w.taskMs / math.max(1.0, dur(p, "addBatch")) })
    L("Deliver.shuffle_bytes") = works.map(_._2.shuffleBytes.toDouble).sum
    L("Deliver.spill_bytes") = works.map(_._2.spillBytes.toDouble).sum
  }

  /** Files per flush and file size, from the manifest. */
  def files(ctx: Ctx, out: Outcome, t: Target, flushes: Int): Unit = {
    val sizes = Lake.lakeFileBytes(ctx.spark, t).map(_.toDouble)
    out.layer("Deliver.files_per_flush") = sizes.size.toDouble / math.max(1, flushes)
    out.layer("Deliver.file_mb_p50") = if (sizes.isEmpty) 0.0 else median(sizes) / 1048576.0
  }

  /** Timed metadata reads a lake query resolves before it scans. */
  def metadata(ctx: Ctx, out: Outcome, t: Target): Unit = {
    val hconf = ctx.spark.sessionState.newHadoopConf()
    out.layer("ManifestReader.chain_files") = Lake.chainFiles(ctx.spark, t).toDouble
    out.layer("ManifestReader.latest_files_ms") = median((1 to 3).map(_ =>
      timeMs(ctx.span("ManifestReader.latestManifestFiles")(
        ManifestReader.latestManifestFiles(ctx.spark, t.manifest)))._2))
    out.layer("ZoneMaps.load_ms") = median((1 to 3).map(_ =>
      timeMs(ctx.span("ZoneMaps.load")(ZoneMaps.load(hconf, t.manifest)))._2))
  }

  /** Segment count and a timed listing of the log. */
  def log(ctx: Ctx, out: Outcome, dir: String): Unit = {
    val fs = Lake.fs(ctx.spark, dir)
    val (segs, ms) = timeMs(ctx.span("GraftLog.listSegments")(GraftLog.listSegments(fs, dir)))
    out.layer("GraftLog.segments") = segs.values.map(_.size).sum.toDouble
    out.layer("GraftLog.list_ms") = ms
  }

  /** Records in the log past the query's committed end offset. */
  def recordsBehind(ctx: Ctx, q: StreamingQuery, dir: String): Long = {
    val end = Option(q.lastProgress).flatMap(p => p.sources.headOption)
      .map(s => parseOffset(s.endOffset)).getOrElse(Map.empty)
    GraftLog.listSegments(Lake.fs(ctx.spark, dir), dir).toSeq.map { case (shard, segs) =>
      val o = end.getOrElse(shard, "")
      segs.filter(_.lastSeq > o).map(_.count).sum
    }.sum
  }

  def parseOffset(json: String): Map[String, String] =
    if (json == null) Map.empty
    else """"([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2)).toMap

}

/** Files a physical plan scanned (numFiles of every file scan, AQE stages included). */
object Scans {
  def filesRead(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case s: QueryStageExec => filesRead(s.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case p => p.children.map(filesRead).sum + p.subqueries.map(filesRead).sum
  }
}
