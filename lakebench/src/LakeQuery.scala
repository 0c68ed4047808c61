package lakebench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import graft.catalog.LakeCatalog
import graft.sources.v2.GraftLog
import Stats._

/** Spark SQL through the benchmark's own calls: plan and execution timed
  * apart, files scanned read from the executed plan.
  */
object Sql {
  final case class Sample(planMs: Double, execMs: Double, files: Long)
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Sample]]()

  def run(ctx: Ctx, cls: String, sql: String): Array[Row] = ctx.span(s"sql.$cls") {
    val ((df, _), planMs) = timeMs(ctx.span(s"sql.$cls.plan") {
      val df = ctx.spark.sql(sql)
      (df, df.queryExecution.executedPlan)
    })
    val (rows, execMs) = timeMs(ctx.span(s"sql.$cls.exec")(df.collect()))
    val files = Scans.filesRead(df.queryExecution.executedPlan)
    samples.getOrElseUpdate(cls, mutable.ArrayBuffer()) += Sample(planMs, execMs, files)
    rows
  }

  /** sql.<cls>.* layer figures; `filesTotal` is the lake's file count. */
  def layers(ctx: Ctx, out: Outcome, cls: String, filesTotal: Long): Unit = {
    val s = samples.getOrElse(cls, mutable.ArrayBuffer())
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    val plan = ctx.tracer.named(s"sql.$cls.plan")
    val exec = ctx.tracer.named(s"sql.$cls.exec")
    val n = math.min(plan.size, exec.size)
    out.layer(s"sql.$cls.plan_ms") = med(s.map(_.planMs).toSeq)
    out.layer(s"sql.$cls.exec_ms") = med(s.map(_.execMs).toSeq)
    out.layer(s"sql.$cls.jobs") = med((0 until n).map(i => (plan(i).work.jobs + exec(i).work.jobs).toDouble))
    out.layer(s"sql.$cls.tasks") = med((0 until n).map(i => (plan(i).work.tasks + exec(i).work.tasks).toDouble))
    out.layer(s"sql.$cls.files_scanned") = med(s.map(_.files.toDouble).toSeq)
    out.layer(s"sql.$cls.files_total") = if (s.isEmpty) 0.0 else filesTotal.toDouble
  }
}

/** lake_query: a closed loop with one client over a manifest lake that the
  * program's own Deliver wrote from a seeded CDC history: hundreds of flush
  * files across many event-time hour partitions, manifest increments and a
  * snapshot fold (every 4th flush folds, so six flushes fold once). The
  * client registers the pruned view once per window; each cycle then runs
  * a point lookup by id, hourly analytics over one day, and the current
  * state per key for a key range. No delivery runs while it is timed.
  */
final class LakeQuery(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val flushes = if (ctx.tiny) 3 else 6
  private val perFlush = if (ctx.tiny) 300 else 600
  private val perBatch = 50
  // each flush covers 8 h of event time, so the history spans 2 days
  private val batchGapUs = 8 * CdcGen.HourUs / (perFlush / perBatch)
  private val gen = new CdcGen(ctx.seed)
  private val history: Vector[Array[Rec]] = Vector.tabulate(flushes) { f =>
    (0 until perFlush / perBatch).iterator.flatMap { b =>
      val k = f * (perFlush / perBatch) + b
      gen.batch(perBatch, CdcGen.EpochUs + k * batchGapUs, k)
    }.toArray
  }
  private val truth0 = new Truth(history.flatten)
  // the self-test's wrong-truth corruption drops one record from the truth
  private val truth = if (ctx.corrupt == "truth")
    new Truth(truth0.valid.filterNot(_.id == truth0.valid.head.id) ++ truth0.malformed) else truth0
  private val root = s"${ctx.work}/query"
  private val log = s"$root/log"
  private val t = Target(s"$root/out")
  private val days = ((history.last.last.arrivalUs - CdcGen.EpochUs) / (24 * CdcGen.HourUs) + 1).toInt

  /** A third of the history: one append per flush, then an AvailableNow
    * drain admitting one append per trigger.
    */
  def setupRound(i: Int): Unit = {
    val mine = history.slice(i * flushes / rounds, (i + 1) * flushes / rounds)
    mine.foreach(f => ctx.span("GraftLog.append")(GraftLog.append(Lake.frame(spark, f.toSeq), log)))
    ctx.span("Deliver.start+AvailableNow") {
      Lake.startDeliver(spark, log, t, Trigger.AvailableNow(),
        maxRecordsPerTrigger = Some(perFlush.toLong), manifestCompactEvery = 4).awaitTermination()
    }
  }

  private val mix = new QueryMix(ctx, truth, days, gen.keys)
  private val cycleMs = mutable.ArrayBuffer[Double]()
  override def warm(): Unit = { mix.register(t); mix.cycle(new Outcome) }

  def window(out: Outcome): Map[String, Double] = {
    val c0 = cycleMs.size
    val mark = mix.classMs.map { case (k, v) => k -> v.size }.toMap
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    mix.register(t)
    while (System.nanoTime() < end || cycleMs.size == c0)
      cycleMs += timeMs(mix.cycle(out))._2
    val mine = cycleMs.drop(c0).toSeq
    def cls(k: String) = mix.classMs(k).drop(mark.getOrElse(k, 0)).toSeq
    out.report += s"lake_query: ${show("cycle_ms", mine)} ${show("lookup_ms", cls("lookup"))} " +
      s"${show("hourly_ms", cls("hourly"))} ${show("latest_ms", cls("latest"))} " +
      s"${show("register_ms", cls("register"))} flushes=$flushes records=${truth0.valid.size + truth0.malformed.size}"
    out.layer("stored_bytes_ratio") = Lake.lakeFileBytes(spark, t).sum /
      (truth0.valid ++ truth0.malformed).map(_.wireBytes).sum.toDouble
    Map(
      "p50_ms" -> median(mine),
      "throughput_per_s" -> 3 * mine.size / (mine.sum / 1000),
      "recall" -> 1.0)
  }

  def check(out: Outcome): Unit = Lake.checkDelivery(spark, t, truth, "history")

  def layers(out: Outcome): Unit = {
    mix.layers(out, t)
    StreamLayers.metadata(ctx, out, t)
    StreamLayers.log(ctx, out, log)
  }
}

/** The lake's three query classes over the pruned view, each answer
  * compared with the generator's truth: a point lookup by id, hourly
  * analytics over one day, and the current state per key for a key range.
  */
final class QueryMix(ctx: Ctx, truth: Truth, days: Int, keys: Int) {
  private val spark = ctx.spark
  private val rnd = new SplittableRandom(ctx.seed * 31 + 7)
  private val ids = truth.idsPresent
  val classMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  private def timed[T](cls: String)(body: => T): T = {
    val (r, ms) = timeMs(body)
    classMs.getOrElseUpdate(cls, mutable.ArrayBuffer()) += ms
    r
  }

  private def mismatch(what: String, got: Any, want: Any) =
    new CheckFailed(s"sql answer ($what): got $got, generator truth $want")

  def register(t: Target): Unit =
    timed("register")(ctx.span("LakeCatalog.registerPrunedView")(
      LakeCatalog.registerPrunedView(spark, "lake_q", t.manifest, blooms = true)))

  def cycle(out: Outcome): Unit = {
    val id = ids(rnd.nextInt(ids.size))
    val look = timed("lookup")(Sql.run(ctx, "lookup",
      s"SELECT sequence_number, op, status, value FROM lake_q WHERE id = $id ORDER BY sequence_number"))
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSeq
    if (look != truth.lookup(id)) throw mismatch(s"lookup id=$id", look.size, truth.lookup(id).size)
    val day = rnd.nextInt(days)
    val lo = CdcGen.EpochUs + day * 24 * CdcGen.HourUs
    val hi = lo + 24 * CdcGen.HourUs
    val hourly = timed("hourly")(Sql.run(ctx, "hourly",
      s"""SELECT date_trunc('HOUR', ts) AS h, count(*) AS n, sum(value) AS v,
         |count(DISTINCT id) AS k FROM lake_q
         |WHERE ts >= TIMESTAMP '${CdcGen.isoMillis(lo)}' AND ts < TIMESTAMP '${CdcGen.isoMillis(hi)}'
         |GROUP BY 1 ORDER BY 1""".stripMargin))
      .map(r => r.getTimestamp(0).getTime * 1000L -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    if (hourly != truth.hourly(lo, hi)) throw mismatch(s"hourly day=$day", hourly, truth.hourly(lo, hi))
    val kLo = 1 + rnd.nextInt(math.max(1, keys - 200))
    val latest = timed("latest")(Sql.run(ctx, "latest",
      s"""SELECT id, status, value FROM (
         |  SELECT id, status, value, op,
         |    row_number() OVER (PARTITION BY id ORDER BY sequence_number DESC) AS rn
         |  FROM lake_q WHERE id BETWEEN $kLo AND ${kLo + 199}) WHERE rn = 1 AND op <> 'D'
         |ORDER BY id""".stripMargin))
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    if (latest != truth.latest(kLo, kLo + 199))
      throw mismatch(s"latest ids $kLo..${kLo + 199}", latest.size, truth.latest(kLo, kLo + 199).size)
    out.attempted += 3
  }

  /** sql.<class>.* and LakeCatalog.register_ms over every cycle run so far. */
  def layers(out: Outcome, t: Target): Unit = {
    val total = Lake.lakeFileBytes(spark, t).size.toLong
    Seq("lookup", "hourly", "latest").foreach(c => Sql.layers(ctx, out, c, total))
    out.layer("LakeCatalog.register_ms") = median(classMs("register").toSeq)
  }
}
